"""Catalog part 3/7: statistics + forecasting + graph analytics (STL, trend tests, RFM,
attribution, bucketed rank stats, HyperBall ANF, ranking metrics).

Imports the shared core from ``_base`` and the helpers it reuses from
earlier family modules; see catalog/__init__.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_link_prediction_spark.catalog._base import ORACLES, _DUCK_H60, _t, query
from social_link_prediction_spark.catalog.c01 import _duck_langid_sql
from social_link_prediction_spark.graph import testgraph as tg
from social_link_prediction_spark.ml import linksplit as mls
from social_link_prediction_spark.operators import stats as st
from social_link_prediction_spark.operators import windows as win
from social_link_prediction_spark.pipelines import dedup as pdd
from social_link_prediction_spark.pipelines import similarity as sim
from social_link_prediction_spark.pipelines import text as ptx


@query(
    "stl_decompose_daily",
    """
    WITH x AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    t AS (SELECT day, n,
                 CASE WHEN count(n) OVER w = 7 THEN avg(n) OVER w END AS trend,
                 datediff('day', DATE '1970-01-05', day) % 7 AS dow
          FROM x
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    sm AS (SELECT dow, avg(n - trend) AS s_raw
           FROM t WHERE trend IS NOT NULL GROUP BY dow),
    sc AS (SELECT avg(s_raw) AS s_mean FROM sm),
    s AS (SELECT dow, s_raw - (SELECT s_mean FROM sc) AS seasonal FROM sm)
    SELECT t.day, t.n, round(t.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(t.n - t.trend - s.seasonal, 6) AS remainder
    FROM t JOIN s ON s.dow = t.dow
    ORDER BY t.day
    """,
)
def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition of the daily event-count
    series (classical STL-lite: centered 7-day moving-average trend,
    recentred day-of-week seasonal means, residual remainder) — makes
    the weekly structure that seasonal_residual_anomalies and
    forecast_backtest_daily implicitly model a first-class reusable
    output, and pairs with acf_daily_events (which DETECTS the
    period this DECOMPOSES by). The corpus-sized work is one
    day-keyed count; all windows run on the days-sized series
    (operators/stats.stl_decompose). Day-of-week is epoch-day
    arithmetic, session-TZ-proof."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return st.stl_decompose(daily, "day", "n", period=7)


# =====================================================================
# Round-5 continuation: Mann-Kendall trend significance, split-
# conformal forecast intervals, RFM customer segmentation.
# =====================================================================
@query(
    "mann_kendall_revenue_trend",
    """
    WITH m AS MATERIALIZED (
        SELECT (extract(year FROM o_orderdate) - 1995) * 12
               + extract(month FROM o_orderdate) - 1 AS mi,
               sum(o_totalprice) AS rev
        FROM orders GROUP BY 1),
    s AS (SELECT CAST(sum(sign(b.rev - a.rev)) AS BIGINT) AS s_stat
          FROM m a JOIN m b ON b.mi > a.mi),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM m),
    t AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS DOUBLE)
                 AS ties
          FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM m GROUP BY rev)),
    v AS (SELECT (CAST((SELECT n_points FROM n) AS DOUBLE)
                  * ((SELECT n_points FROM n) - 1)
                  * (2 * (SELECT n_points FROM n) + 5)
                  - (SELECT ties FROM t)) / 18.0 AS var)
    SELECT (SELECT n_points FROM n) AS n_points,
           s_stat,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt((SELECT var FROM v))
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt((SELECT var FROM v))
                      ELSE 0.0 END, 6) AS z
    FROM s
    """,
)
def mann_kendall_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend significance test on the monthly
    revenue series — the hypothesis-test companion of
    theil_sen_revenue_trend (same bounded series, same pairwise
    frame): Theil-Sen says HOW STEEP, Mann-Kendall says WHETHER the
    monotone trend is statistically real (tie-corrected normal
    approximation with continuity correction). One corpus-sized
    monthly rollup; pairs are months² (operators/stats.mann_kendall)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).alias("mi")
    ).agg(F.sum("o_totalprice").alias("rev"))
    return st.mann_kendall(m, "mi", "rev")


@query(
    "conformal_forecast_intervals",
    """
    WITH x AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    j AS MATERIALIZED (
        SELECT a.day, a.n, b.n AS fc, abs(a.n - b.n) AS ar
        FROM x a JOIN x b ON b.day = a.day - INTERVAL 7 DAY),
    o AS MATERIALIZED (
        SELECT day, ar,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(count(*) OVER () AS BIGINT) AS nt
        FROM j),
    sp AS (SELECT CAST(floor(0.7 * nt) AS BIGINT) AS n_cal,
                  nt - CAST(floor(0.7 * nt) AS BIGINT) AS n_test
           FROM o LIMIT 1),
    q AS (SELECT ar AS q_hat FROM (
              SELECT ar, row_number() OVER (ORDER BY ar, day) AS rk
              FROM o WHERE t <= (SELECT n_cal FROM sp))
          WHERE rk = least(CAST(ceil(0.9 * ((SELECT n_cal FROM sp) + 1))
                                AS BIGINT),
                           (SELECT n_cal FROM sp))),
    tst AS (SELECT CAST(sum(CASE WHEN ar <= (SELECT q_hat FROM q)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM o WHERE t > (SELECT n_cal FROM sp))
    SELECT sp.n_cal, sp.n_test,
           round(CAST((SELECT q_hat FROM q) AS DOUBLE), 6) AS q_hat,
           tst.n_covered,
           round(tst.n_covered * 1.0 / sp.n_test, 6) AS coverage
    FROM sp, tst
    """,
)
def conformal_forecast_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    daily-events forecast (forecast = value 7 days earlier, calendar
    join so date gaps can't shift the season): the first 70% of
    scored days calibrate q_hat = the ceil(0.9*(n+1))-th smallest
    absolute residual (the distribution-free 90% quantile with
    finite-sample guarantee, Vovk/Angelopoulos), and the held-out 30%
    reports empirical coverage of |residual| <= q_hat. This is the
    UNCERTAINTY layer for forecast_backtest_daily — same backbone,
    but with a guarantee instead of a point score. All windows run on
    the days-sized series; order statistics are exact (integer
    residuals, day tie-break), so both engines pick the identical
    q_hat."""
    ev = _t(spark, sf_dir, "events")
    x = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    fc = x.select(F.date_add("day", 7).alias("day"), F.col("n").alias("fc"))
    j = x.join(fc, "day").select(
        "day", F.abs(F.col("n") - F.col("fc")).alias("ar")
    )
    o = j.select(
        "day",
        "ar",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    nt = o.agg(F.max("t").alias("nt"))
    sp = nt.select(
        F.floor(0.7 * F.col("nt")).cast("long").alias("n_cal"),
        (F.col("nt") - F.floor(0.7 * F.col("nt"))).cast("long").alias("n_test"),
    )
    ob = o.crossJoin(F.broadcast(sp)).persist()
    cal = ob.filter(F.col("t") <= F.col("n_cal"))
    q = (
        cal.select(
            "ar",
            "n_cal",
            F.row_number().over(Window.orderBy("ar", "day")).alias("rk"),
        )
        .filter(
            F.col("rk")
            == F.least(
                F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"), F.col("n_cal")
            )
        )
        .select(F.col("ar").alias("q_hat"))
    )
    tst = (
        ob.filter(F.col("t") > F.col("n_cal"))
        .crossJoin(F.broadcast(q))
        .agg(
            F.sum(F.when(F.col("ar") <= F.col("q_hat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered")
        )
    )
    return (
        sp.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(tst))
        .select(
            "n_cal",
            "n_test",
            F.round(F.col("q_hat").cast("double"), 6).alias("q_hat"),
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_test"), 6).alias("coverage"),
        )
    )


@query(
    "rfm_segments",
    """
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
    rfm AS MATERIALIZED (
        SELECT o_custkey,
               datediff('day', max(CAST(o_orderdate AS DATE)),
                        (SELECT mday FROM mx)) AS recency,
               CAST(count(*) AS BIGINT) AS freq,
               -- integer cents: round() pulls the ~1e-10 double-sum
               -- drift back to the exact cent, so every downstream
               -- value is integer arithmetic (no .005 display-rounding
               -- boundary can flip between engines)
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT cents,
               ntile(5) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
               ntile(5) OVER (ORDER BY freq ASC, o_custkey) AS f_score,
               ntile(5) OVER (ORDER BY cents ASC, o_custkey) AS m_score
        FROM rfm)
    SELECT r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal_at_risk'
                ELSE 'other' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6)
               AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the canonical CRM scoring grid: per-customer last-order age,
    order count, and lifetime spend, each bucketed into quintiles
    (5 = best), rolled up to the 125-cell score grid with a named
    segment label for the classic quadrants. c_custkey tie-breaks
    make bucket assignment deterministic in both engines; the
    corpus-sized work is one custkey-keyed rollup. The per-customer
    frame grows with the corpus, so each quintile assignment routes
    through global_row_number + exact_ntile (three range-partitioned
    parallel numberings, bit-identical to the ntile windows they
    replace — VERDICT r7 item 2 family) instead of three single-task
    global sorts."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("mday"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("lastd"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            # integer cents (see oracle note): exact downstream math
            F.round(F.sum("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff(F.col("mday"), F.col("lastd")).alias("recency"),
            "freq",
            "cents",
        )
    )
    rfm = rfm.persist()
    s1, n_cust = win.global_row_number(
        rfm, [F.col("recency").desc(), F.col("o_custkey")], out="__rn_r"
    )
    s2, _ = win.global_row_number(
        s1, [F.col("freq").asc(), F.col("o_custkey")], out="__rn_f"
    )
    s3, _ = win.global_row_number(
        s2, [F.col("cents").asc(), F.col("o_custkey")], out="__rn_m"
    )
    scored = s3.select(
        "cents",
        win.exact_ntile(F.col("__rn_r"), n_cust, 5).alias("r_score"),
        win.exact_ntile(F.col("__rn_f"), n_cust, 5).alias("f_score"),
        win.exact_ntile(F.col("__rn_m"), n_cust, 5).alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champions"
        )
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_at_risk")
        .otherwise("other")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0, 6
            ).alias("avg_monetary"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            seg.alias("segment"),
            "n_customers",
            "avg_monetary",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# =====================================================================
# Round-5 continuation: isotonic (PAV) calibration over score bins,
# exact Shapley-value channel attribution on the subset lattice.
# =====================================================================
@query(
    "isotonic_calibration_bins",
    """
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS score,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    bins AS MATERIALIZED (
        SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS pos
        FROM scored GROUP BY 1),
    cum AS MATERIALIZED (
        SELECT bin, n, pos,
               CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
        FROM bins),
    iv AS MATERIALIZED (
        SELECT a.bin AS j, b.bin AS k,
               (b.cp - a.cp + a.pos) * 1.0 / (b.cn - a.cn + a.n) AS avg_jk
        FROM cum a JOIN cum b ON b.bin >= a.bin),
    mins AS (
        SELECT c.bin AS i, iv.j, min(iv.avg_jk) AS mn
        FROM cum c JOIN iv ON iv.j <= c.bin AND iv.k >= c.bin
        GROUP BY c.bin, iv.j),
    fit AS (SELECT i AS bin, max(mn) AS iso FROM mins GROUP BY i)
    SELECT b.bin, b.n,
           round(b.pos * 1.0 / b.n, 6) AS frac_pos,
           round(f.iso, 6) AS iso_rate
    FROM bins b JOIN fit f ON f.bin = b.bin
    ORDER BY b.bin
    """,
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (pool-adjacent-violators) calibration of the same
    scoring rule calibration_reliability_bins audits: the PAV fit is
    evaluated in the MINIMAX CLOSED FORM fitted(i) = max_{j<=i}
    min_{k>=i} avg(pos[j..k] / n[j..k]) — mathematically identical to
    the sequential pooling algorithm but expressed as bounded-lattice
    joins over the 10 score bins, so there is no sequential scan and
    a SQL oracle replays it term-for-term. The output is the
    monotone-nondecreasing calibrated rate per bin — what you'd
    actually deploy to remap scores, where the reliability bins only
    MEASURE miscalibration. Corpus-sized work: one scored join + one
    bin rollup; everything after runs on <=55 interval rows. Interval
    averages are exact-integer ratios, so both engines derive
    identical doubles."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "score"
        ),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("label"),
    )
    bins = (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
        )
        .persist()
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("pos").over(w).cast("long").alias("cp"),
    )
    a = cum.select(
        F.col("bin").alias("j"),
        F.col("n").alias("an"),
        F.col("pos").alias("ap"),
        F.col("cn").alias("acn"),
        F.col("cp").alias("acp"),
    )
    b = cum.select(
        F.col("bin").alias("k"), F.col("cn").alias("bcn"), F.col("cp").alias("bcp")
    )
    iv = a.join(F.broadcast(b), F.col("k") >= F.col("j")).select(
        "j",
        "k",
        (
            (F.col("bcp") - F.col("acp") + F.col("ap"))
            / (F.col("bcn") - F.col("acn") + F.col("an"))
        ).alias("avg_jk"),
    )
    i_frame = cum.select(F.col("bin").alias("i"))
    mins = (
        i_frame.join(
            F.broadcast(iv), (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("mn"))
    )
    fit = mins.groupBy(F.col("i").alias("bin")).agg(F.max("mn").alias("iso"))
    return (
        bins.join(fit, "bin")
        .select(
            "bin",
            "n",
            F.round(F.col("pos") / F.col("n"), 6).alias("frac_pos"),
            F.round("iso", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


_SHAP_W = "CASE WHEN {s} = 0 THEN 0.25 WHEN {s} = 1 THEN 2.0/24 WHEN {s} = 2 THEN 2.0/24 ELSE 0.25 END"


@query(
    "shapley_attribution_channels",
    f"""
    WITH jw AS (
        SELECT user_id,
               CAST(floor(datediff('day', DATE '1970-01-05', CAST(ts AS DATE))
                          / 7.0) AS BIGINT) AS wk,
               CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id, 2),
    bym AS MATERIALIZED (
        SELECT mask, CAST(count(*) AS BIGINT) AS n_j,
               CAST(sum(conv) AS BIGINT) AS n_c
        FROM jw GROUP BY mask),
    lat AS MATERIALIZED (
        SELECT s.s, sum(m.n_j) AS vj, sum(m.n_c) AS vc,
               CASE WHEN sum(m.n_j) > 0
                    THEN sum(m.n_c) * 1.0 / sum(m.n_j) ELSE 0.0 END AS v
        FROM (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS s) s
        LEFT JOIN bym m ON (m.mask & s.s) = m.mask
        GROUP BY s.s),
    ch AS (SELECT * FROM (VALUES ('view', CAST(1 AS BIGINT)),
                                 ('click', CAST(2 AS BIGINT)),
                                 ('signup', CAST(4 AS BIGINT)),
                                 ('error', CAST(8 AS BIGINT)))
                        AS t(channel, bit)),
    marg AS (
        SELECT c.channel,
               ({_SHAP_W.format(s='bit_count(l.s)')})
               * (lu.v - l.v) AS term
        FROM ch c
        JOIN lat l ON (l.s & c.bit) = 0
        JOIN lat lu ON lu.s = l.s + c.bit)
    SELECT channel, round(sum(term), 6) AS shapley
    FROM marg GROUP BY channel ORDER BY channel
    """,
)
def shapley_attribution_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution — the third leg of the
    attribution family (multitouch = positional, markov = removal
    effect, this = cooperative-game marginal contribution). Journeys
    are user-weeks; the characteristic function v(S) = conversion
    RATE of journeys whose touched-channel set is contained in S
    (exposure-limited reach), evaluated over the FULL 16-subset
    lattice of the 4 touch channels, so the Shapley sum is exact —
    no sampling, no permutation Monte Carlo. The corpus-sized work
    is ONE user-week rollup; the lattice (16 rows), containment join
    (<=16x16), and factorial-weighted marginals are control-plane
    sized — at 100 TB nothing after the first groupBy grows. Week =
    epoch-day arithmetic (Monday anchor), session-TZ-proof; v values
    are exact-integer ratios so both engines agree bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    jw = ev.groupBy(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date")) / 7.0
        ).cast("long").alias("wk"),
    ).agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
            + 8 * F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
        ).cast("long").alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    bym = jw.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n_j"),
        F.sum("conv").cast("long").alias("n_c"),
    )
    lat = (
        spark.range(16)
        .select(F.col("id").alias("s"))
        .join(F.broadcast(bym), F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.sum("n_j").alias("vj"), F.sum("n_c").alias("vc"))
        .select(
            "s",
            F.when(F.col("vj") > 0, F.col("vc") / F.col("vj"))
            .otherwise(F.lit(0.0))
            .alias("v"),
        )
    )
    ch = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 4), ("error", 8)],
        "channel string, bit long",
    )
    l = lat.select(F.col("s").alias("ls"), F.col("v").alias("lv"))
    lu = lat.select(F.col("s").alias("us"), F.col("v").alias("uv"))
    wgt = (
        F.when(F.bit_count("ls") == 0, F.lit(0.25))
        .when(F.bit_count("ls") == 1, F.lit(2.0 / 24))
        .when(F.bit_count("ls") == 2, F.lit(2.0 / 24))
        .otherwise(F.lit(0.25))
    )
    marg = (
        F.broadcast(ch)
        .join(F.broadcast(l), F.expr("(ls & bit) = 0"))
        .join(F.broadcast(lu), F.col("us") == F.col("ls") + F.col("bit"))
        .select("channel", (wgt * (F.col("uv") - F.col("lv"))).alias("term"))
    )
    return (
        marg.groupBy("channel")
        .agg(F.round(F.sum("term"), 6).alias("shapley"))
        .orderBy("channel")
    )


# =====================================================================
# Round-5 continuation: experimentation / causal-inference family —
# one-way ANOVA, covariate balance (SMD), CUPED variance reduction,
# difference-in-differences.
# =====================================================================
@query(
    "anova_price_segments",
    """
    WITH v AS (
        SELECT c.c_mktsegment AS g,
               CAST(round(o.o_totalprice * 100) AS DECIMAL(18,0)) AS xc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    pg0 AS MATERIALIZED (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               sum(xc) AS sc, sum(xc * xc) AS ssc
        FROM v GROUP BY g),
    pg AS (SELECT g, n, CAST(sc AS DOUBLE) / 100 AS s,
                  CAST(ssc AS DOUBLE) / 10000 AS ss
           FROM pg0),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(sc) AS DOUBLE) / 100 AS s,
                   CAST(count(*) AS BIGINT) AS k FROM pg0),
    parts AS (
        SELECT sum(n * (s / n - (SELECT s FROM tot) / (SELECT n FROM tot))
                     * (s / n - (SELECT s FROM tot) / (SELECT n FROM tot))
                   ORDER BY g) AS ssb,
               sum(ss - s * s / n ORDER BY g) AS ssw
        FROM pg)
    SELECT (SELECT k FROM tot) AS k_groups,
           (SELECT n FROM tot) AS n_obs,
           round(ssb, 2) AS ss_between,
           round(ssw, 2) AS ss_within,
           round((ssb / ((SELECT k FROM tot) - 1))
                 / (ssw / ((SELECT n FROM tot) - (SELECT k FROM tot))), 6) AS f_stat
    FROM parts
    """,
)
def anova_price_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of order totals across the five market
    segments — the k-group generalization of the two-sample family
    (z / Mann-Whitney / KS test two groups; this tests all five at
    once, the screen you run BEFORE pairwise tests to control the
    first-look error). Computed from per-group (n, sum, sumsq)
    partials — one corpus-sized groupBy, then 5-row broadcast math:
    SSB = sum n_g(m_g - m)^2, SSW = sum(ss_g - s_g^2/n_g).

    Bit-stability (r6 fix for a 1-ulp sf0.001 hash flip): the
    corpus-sized sums run in integer CENTS (decimal — exact under any
    partial-aggregation order), and the final 5-group SSB/SSW
    reductions are EXPLICIT g-ordered folds (F.aggregate over a
    sorted array here, sum(... ORDER BY g) in the oracle) so both
    engines add the five doubles in the identical sequence. Sums
    round to 2dp (the big-money convention), F to 6dp."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("decimal(18,0)").alias("xc"),
    )
    pg0 = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").alias("sc"),
        F.sum(F.col("xc") * F.col("xc")).alias("ssc"),
    )
    pg = pg0.select(
        "g",
        "n",
        (F.col("sc").cast("double") / 100).alias("s"),
        (F.col("ssc").cast("double") / 10000).alias("ss"),
    )
    tot = pg0.agg(
        F.sum("n").cast("long").alias("tn"),
        (F.sum("sc").cast("double") / 100).alias("ts"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    parts = (
        pg.crossJoin(F.broadcast(tot))
        .select(
            "tn",
            "k",
            "g",
            (
                F.col("n")
                * (F.col("s") / F.col("n") - F.col("ts") / F.col("tn"))
                * (F.col("s") / F.col("n") - F.col("ts") / F.col("tn"))
            ).alias("b"),
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n")).alias("w"),
        )
        .groupBy("tn", "k")
        .agg(F.array_sort(F.collect_list(F.struct("g", "b", "w"))).alias("arr"))
        .select(
            "tn",
            "k",
            F.aggregate(
                "arr", F.lit(0.0), lambda acc, x: acc + x["b"]
            ).alias("ssb"),
            F.aggregate(
                "arr", F.lit(0.0), lambda acc, x: acc + x["w"]
            ).alias("ssw"),
        )
    )
    return parts.select(
        F.col("k").alias("k_groups"),
        F.col("tn").alias("n_obs"),
        F.round("ssb", 2).alias("ss_between"),
        F.round("ssw", 2).alias("ss_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("tn") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@query(
    "covariate_balance_smd",
    """
    WITH f AS (
        SELECT c.c_custkey,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               c.c_acctbal AS acctbal,
               CAST(coalesce(o.cnt, 0) AS DOUBLE) AS n_orders
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
                   GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey),
    u AS (SELECT t, 'acctbal' AS covariate, acctbal AS x FROM f
          UNION ALL
          SELECT t, 'n_orders' AS covariate, n_orders AS x FROM f),
    g AS MATERIALIZED (
        SELECT covariate, t, CAST(count(*) AS BIGINT) AS n,
               avg(x) AS m, var_samp(x) AS v
        FROM u GROUP BY covariate, t)
    SELECT a.covariate,
           a.n AS n_treat, b.n AS n_control,
           round(a.m, 6) AS mean_treat,
           round(b.m, 6) AS mean_control,
           round((a.m - b.m) / sqrt((a.v + b.v) / 2.0), 6) AS smd,
           CASE WHEN abs((a.m - b.m) / sqrt((a.v + b.v) / 2.0)) > 0.1
                THEN 1 ELSE 0 END AS imbalanced
    FROM g a JOIN g b ON b.covariate = a.covariate AND a.t = 1 AND b.t = 0
    ORDER BY a.covariate
    """,
)
def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-mean-difference covariate balance audit (the
    causal-inference table-one): treatment = BUILDING-segment
    customers, covariates = account balance and order count, SMD =
    (mean_t - mean_c) / sqrt((var_t + var_c)/2), flagged at the
    conventional |SMD| > 0.1 imbalance threshold — the check run
    before any observational comparison (and after matching /
    weighting) to see whether groups are comparable. One unpivoted
    groupBy produces all per-(covariate, arm) moments; the compare
    is a 2-row self-join per covariate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    f = c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("t"),
        F.col("c_acctbal").alias("acctbal"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("double").alias("n_orders"),
    )
    u = f.select("t", F.lit("acctbal").alias("covariate"), F.col("acctbal").alias("x")).unionByName(
        f.select("t", F.lit("n_orders").alias("covariate"), F.col("n_orders").alias("x"))
    )
    g = u.groupBy("covariate", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("x").alias("m"),
        F.var_samp("x").alias("v"),
    )
    a = g.filter(F.col("t") == 1).select(
        "covariate",
        F.col("n").alias("n_treat"),
        F.col("m").alias("mt"),
        F.col("v").alias("vt"),
    )
    b = g.filter(F.col("t") == 0).select(
        "covariate",
        F.col("n").alias("n_control"),
        F.col("m").alias("mc"),
        F.col("v").alias("vc"),
    )
    smd = (F.col("mt") - F.col("mc")) / F.sqrt((F.col("vt") + F.col("vc")) / 2.0)
    return (
        a.join(b, "covariate")
        .select(
            "covariate",
            "n_treat",
            "n_control",
            F.round("mt", 6).alias("mean_treat"),
            F.round("mc", 6).alias("mean_control"),
            F.round(smd, 6).alias("smd"),
            F.when(F.abs(smd) > 0.1, 1).otherwise(0).alias("imbalanced"),
        )
        .orderBy("covariate")
    )


@query(
    "cuped_variance_reduction",
    """
    WITH span AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events),
    mid AS (SELECT lo + to_days(CAST(floor(datediff('day', lo, hi) / 2.0)
                            AS INTEGER)) AS m FROM span),
    pu AS MATERIALIZED (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) <= (SELECT m FROM mid)
                        THEN value ELSE 0 END) AS x,
               sum(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) > (SELECT m FROM mid)
                        THEN value ELSE 0 END) AS y
        FROM events GROUP BY user_id),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 covar_samp(x, y) AS cxy, var_samp(x) AS vx,
                 var_samp(y) AS vy
          FROM pu)
    SELECT n_users,
           round(cxy / vx, 6) AS theta,
           round(vy, 2) AS var_y,
           round(vy - cxy * cxy / vx, 2) AS var_cuped,
           round((cxy * cxy / vx) / vy, 6) AS reduction
    FROM s
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled pre-experiment data) variance reduction — the
    standard A/B-test sensitivity booster: per-user post-period
    purchase revenue adjusted by the pre-period covariate,
    theta = cov(x,y)/var(x), residual variance var(y) - cov^2/var(x),
    and the fraction of metric variance the adjustment removes (=
    rho^2 — the factor by which the experiment needs less traffic).
    The calendar split is the event span's midpoint (broadcast 1-row
    frame); the corpus-sized work is ONE user-keyed conditional
    rollup, then a single moments pass over the per-user frame —
    both fully mergeable, the 100 TB shape."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    mid = span.select(
        F.date_add(
            "lo", F.floor(F.datediff("hi", "lo") / 2.0).cast("int")
        ).alias("m")
    )
    pu = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") <= F.col("m")),
                    F.col("value"),
                ).otherwise(0.0)
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") > F.col("m")),
                    F.col("value"),
                ).otherwise(0.0)
            ).alias("y"),
        )
    )
    s = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.covar_samp("x", "y").alias("cxy"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
    )
    return s.select(
        "n_users",
        F.round(F.col("cxy") / F.col("vx"), 6).alias("theta"),
        F.round("vy", 2).alias("var_y"),
        F.round(
            F.col("vy") - F.col("cxy") * F.col("cxy") / F.col("vx"), 2
        ).alias("var_cuped"),
        F.round(
            (F.col("cxy") * F.col("cxy") / F.col("vx")) / F.col("vy"), 6
        ).alias("reduction"),
    )


@query(
    "diff_in_diff_event_rates",
    """
    WITH span AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events),
    mid AS (SELECT lo + to_days(CAST(floor(datediff('day', lo, hi) / 2.0)
                            AS INTEGER)) AS m FROM span),
    d AS MATERIALIZED (
        SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS treated,
               CASE WHEN CAST(ts AS DATE) > (SELECT m FROM mid)
                    THEN 1 ELSE 0 END AS post,
               CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1, 2, 3),
    cell AS MATERIALIZED (
        SELECT treated, post,
               CAST(sum(n) AS BIGINT) AS events,
               CAST(count(*) AS BIGINT) AS days,
               sum(n) * 1.0 / count(*) AS daily_mean
        FROM d GROUP BY treated, post)
    SELECT max(CASE WHEN treated = 1 AND post = 0 THEN round(daily_mean, 6) END)
               AS treat_pre,
           max(CASE WHEN treated = 1 AND post = 1 THEN round(daily_mean, 6) END)
               AS treat_post,
           max(CASE WHEN treated = 0 AND post = 0 THEN round(daily_mean, 6) END)
               AS control_pre,
           max(CASE WHEN treated = 0 AND post = 1 THEN round(daily_mean, 6) END)
               AS control_post,
           round(max(CASE WHEN treated = 1 AND post = 1 THEN daily_mean END)
                 - max(CASE WHEN treated = 1 AND post = 0 THEN daily_mean END)
                 - max(CASE WHEN treated = 0 AND post = 1 THEN daily_mean END)
                 + max(CASE WHEN treated = 0 AND post = 0 THEN daily_mean END),
                 6) AS did
    FROM cell
    """,
)
def diff_in_diff_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate on daily event rates: click
    volume (treated series) vs view volume (parallel-trends control)
    across the span-midpoint cutoff — the workhorse quasi-
    experimental estimator when there is no randomized assignment,
    completing the causal family (balance check = covariate_balance
    _smd, sensitivity = cuped_variance_reduction). DiD = (T_post -
    T_pre) - (C_post - C_pre) on per-cell daily means. One day-keyed
    rollup is the only corpus-sized work; the 2x2 cell frame is
    control-plane sized. Daily means are exact-integer ratios, so
    both engines agree bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    mid = span.select(
        F.date_add(
            "lo", F.floor(F.datediff("hi", "lo") / 2.0).cast("int")
        ).alias("m")
    )
    d = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .crossJoin(F.broadcast(mid))
        .groupBy(
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("treated"),
            F.when(F.to_date("ts") > F.col("m"), 1).otherwise(0).alias("post"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cell = d.groupBy("treated", "post").agg(
        (F.sum("n") / F.count(F.lit(1))).alias("daily_mean")
    )
    def _m(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("daily_mean"),
            )
        )
    return cell.agg(
        F.round(_m(1, 0), 6).alias("treat_pre"),
        F.round(_m(1, 1), 6).alias("treat_post"),
        F.round(_m(0, 0), 6).alias("control_pre"),
        F.round(_m(0, 1), 6).alias("control_post"),
        F.round(_m(1, 1) - _m(1, 0) - _m(0, 1) + _m(0, 0), 6).alias("did"),
    )


# =====================================================================
# Round-5 continuation: LLM-corpus curation completions — DSIR
# importance weights, CCNet perplexity bucketing — and A/B power/MDE.
# =====================================================================
@query(
    "dsir_importance_weights",
    """
    WITH tok AS MATERIALIZED (
        SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '),
                                                t -> t <> '')) AS t
        FROM documents),
    tgt AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok
        WHERE lang = 'en' GROUP BY t),
    src AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    nv AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM tgt) AS nt,
                  (SELECT CAST(sum(c) AS BIGINT) FROM src) AS ns,
                  (SELECT CAST(count(*) AS BIGINT) FROM src) AS v),
    dw AS (
        SELECT tok.doc_id, tok.lang,
               avg(ln((coalesce(tg.c, 0) + 1.0)
                      / ((SELECT nt FROM nv) + (SELECT v FROM nv)))
                   - ln((sr.c + 1.0)
                        / ((SELECT ns FROM nv) + (SELECT v FROM nv))))
                   AS w
        FROM tok
        JOIN src sr ON sr.t = tok.t
        LEFT JOIN tgt tg ON tg.t = tok.t
        GROUP BY tok.doc_id, tok.lang)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(w), 6) AS mean_weight,
           round(min(w), 6) AS min_weight,
           round(max(w), 6) AS max_weight
    FROM dw GROUP BY lang ORDER BY lang
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (data-selection-with-importance-resampling, Xie et al.
    2023) importance weights: per-document mean log-likelihood ratio
    between a TARGET unigram LM (English docs — the domain you want
    more of) and the SOURCE LM (the whole corpus), add-1 smoothed
    over the joint vocabulary. Documents distributionally close to
    the target score high; feeding these weights to weighted_sample
    /mixture_rebalance is exactly the published DSIR pipeline — this
    completes it next to the quality (Gopher), dedup (MinHash), and
    contamination gates. Both LMs are vocabulary-sized broadcast
    frames; the corpus-sized work is one token explode + one
    doc-keyed mean — the 100 TB shape (DSIR's hashed-ngram variant
    drops in by replacing t with hash(t) % B). Reported per-language
    so the weight separation (en highest) is the oracle-checked
    signal."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(ptx.tokens("text")).alias("t")
    )
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    src = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    nv = (
        src.agg(
            F.sum("cs").cast("long").alias("ns"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        .crossJoin(F.broadcast(tgt.agg(F.sum("ct").cast("long").alias("nt"))))
    )
    scored = (
        tok.join(F.broadcast(src), "t")
        .join(F.broadcast(tgt), "t", "left")
        .crossJoin(F.broadcast(nv))
    )
    w = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + F.col("v"))
    ) - F.log((F.col("cs") + 1.0) / (F.col("ns") + F.col("v")))
    dw = scored.groupBy("doc_id", "lang").agg(F.avg(w).alias("w"))
    return (
        dw.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("w"), 6).alias("mean_weight"),
            F.round(F.min("w"), 6).alias("min_weight"),
            F.round(F.max("w"), 6).alias("max_weight"),
        )
        .orderBy("lang")
    )


@query(
    "ccnet_perplexity_buckets",
    """
    WITH tok AS MATERIALIZED (
        SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '),
                                                t -> t <> '')) AS t
        FROM documents),
    lm AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lm),
    d AS MATERIALIZED (
        SELECT tok.doc_id, tok.lang,
               round(avg(ln(lm.c * 1.0 / (SELECT n FROM n))), 6) AS ml
        FROM tok JOIN lm ON lm.t = tok.t
        GROUP BY tok.doc_id, tok.lang),
    b AS (
        SELECT lang, ml,
               ntile(3) OVER (PARTITION BY lang ORDER BY ml DESC, doc_id)
                   AS tercile
        FROM d)
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(ml), 6) AS avg_logprob
    FROM b GROUP BY lang, tercile ORDER BY lang, bucket
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity bucketing: per-language
    terciles of the per-document unigram mean log-probability (head
    = most fluent third — what CCNet keeps for LM training; tail =
    junk). Composes the unigram_logprob signal into the published
    curation decision. Per-doc scores are rounded to 6dp BEFORE the
    tercile window with a doc_id tie-break (round-before-rank: a
    1e-13 cross-engine float wobble can never flip a bucket
    boundary). The LM is vocabulary-sized and broadcast; ntile
    partitions by language, so no global sort."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(ptx.tokens("text")).alias("t")
    )
    lm = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = lm.agg(F.sum("c").cast("long").alias("n"))
    d = (
        tok.join(F.broadcast(lm), "t")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg(F.log(F.col("c") / F.col("n"))), 6).alias("ml"))
    )
    b = d.select(
        "lang",
        "ml",
        F.ntile(3)
        .over(
            Window.partitionBy("lang").orderBy(F.col("ml").desc(), "doc_id")
        )
        .alias("tercile"),
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        b.groupBy("lang", "tercile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("ml"), 6).alias("avg_logprob"),
        )
        .select("lang", bucket.alias("bucket"), "n_docs", "avg_logprob")
        .orderBy("lang", "bucket")
    )


@query(
    "ab_test_power_mde",
    """
    WITH u AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) >= 15
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(converted) AS BIGINT) AS conv,
                 CAST(user_id % 2 AS INTEGER) AS arm
          FROM u GROUP BY 3),
    w AS (SELECT min(n) AS n_min, CAST(sum(n) AS BIGINT) AS n_total,
                 sum(conv) * 1.0 / sum(n) AS p
          FROM a)
    SELECT n_total, round(p, 6) AS pooled_rate,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * p * (1.0 - p) / n_min), 6) AS mde_abs,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * p * (1.0 - p) / n_min) / p, 6) AS mde_rel,
           CAST(ceil(2.0 * p * (1.0 - p)
                     * power((1.959964 + 0.841621) / (0.05 * p), 2))
                AS BIGINT) AS n_per_arm_for_5pct_lift
    FROM w
    """,
)
def ab_test_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing readout for the ab_test_zscore design: the
    minimum detectable effect at alpha=0.05 two-sided / 80% power
    given the CURRENT per-arm sample ((z_a + z_b) * sqrt(2p(1-p)/n)),
    and the per-arm sample a 5%-relative lift would need — the
    question asked BEFORE the test that ab_test_zscore answers after.
    Same deterministic parity split and 15-purchase conversion rule;
    z constants are literals so no erf dependency; one user rollup is
    the only corpus-sized work."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 15
        ).cast("int").alias("converted")
    )
    a = u.groupBy((F.col("user_id") % 2).cast("int").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    w = a.agg(
        F.min("n").alias("n_min"),
        F.sum("n").cast("long").alias("n_total"),
        (F.sum("conv") / F.sum("n")).alias("p"),
    )
    zsum = F.lit(1.959964 + 0.841621)
    mde = zsum * F.sqrt(2.0 * F.col("p") * (1.0 - F.col("p")) / F.col("n_min"))
    return w.select(
        "n_total",
        F.round("p", 6).alias("pooled_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("p"), 6).alias("mde_rel"),
        F.ceil(
            2.0
            * F.col("p")
            * (1.0 - F.col("p"))
            * F.pow(zsum / (0.05 * F.col("p")), 2)
        )
        .cast("long")
        .alias("n_per_arm_for_5pct_lift"),
    )


# =====================================================================
# Round-5 continuation: ANF neighborhood function (hop-growth curve)
# and SCAN structural similarity / core census, both on replayable
# h60-sampled supplier graphs.
# =====================================================================
_ANF_EDGE_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'anf'"
)
_SCAN_EDGE_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'scan'"
)


@query(
    "anf_neighborhood_function",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_ANF_EDGE_SQL} % 10000 < 60
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    r1 AS MATERIALIZED (SELECT src, dst FROM sym),
    r2 AS MATERIALIZED (
        SELECT src, dst FROM r1
        UNION
        SELECT r.src, s.dst FROM r1 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst),
    r3 AS MATERIALIZED (
        SELECT src, dst FROM r2
        UNION
        SELECT r.src, s.dst FROM r2 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst),
    c AS (SELECT 1 AS hop, CAST(count(*) AS BIGINT) AS n_pairs FROM r1
          UNION ALL
          SELECT 2, CAST(count(*) AS BIGINT) FROM r2
          UNION ALL
          SELECT 3, CAST(count(*) AS BIGINT) FROM r3)
    SELECT CAST(hop AS BIGINT) AS hop, n_pairs,
           round(n_pairs * 1.0 / ((SELECT n FROM n)
                                  * ((SELECT n FROM n) - 1)), 6)
               AS frac_pairs
    FROM c ORDER BY hop
    """,
)
def anf_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF / neighborhood function N(h) (Palmer et al. 2002): how many
    ordered node pairs are within h hops, for h = 1..3, on the
    deterministic 0.6%-sampled supplier graph — the hop-growth curve
    behind effective-diameter claims (the h where the curve flattens)
    and the global companion of six_degrees_summary's per-pair view.
    Exact frontier expansion (distinct pair closure per hop) is the
    oracle-checkable tier; the 100 TB path replaces the pair set with
    a per-node HLL register OR-merged along edges (HyperBall, Boldi
    2011 — the same hop loop, sketch-valued), which our mergeable-HLL
    aggregate already provides. Each hop is one dst-keyed shuffle +
    distinct; the sample keeps the closure bounded (~N*avg_deg^h)."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    nn = sup.agg(F.count(F.lit(1)).cast("long").alias("n"))
    e = tg.sampled_edges(sup, 60, "anf")
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    r = sym
    counts = None
    for h in (1, 2, 3):
        if h > 1:
            step = (
                r.alias("r")
                .join(sym.alias("s"), F.col("r.dst") == F.col("s.src"))
                .select(
                    F.col("r.src").alias("src"), F.col("s.dst").alias("dst")
                )
                .filter(F.col("src") != F.col("dst"))
            )
            r = r.unionByName(step).distinct().localCheckpoint()
        c = r.agg(F.count(F.lit(1)).cast("long").alias("n_pairs")).select(
            F.lit(h).cast("long").alias("hop"), "n_pairs"
        )
        counts = c if counts is None else counts.unionByName(c)
    return (
        counts.crossJoin(F.broadcast(nn))
        .select(
            "hop",
            "n_pairs",
            F.round(
                F.col("n_pairs") / (F.col("n") * (F.col("n") - 1)), 6
            ).alias("frac_pairs"),
        )
        .orderBy("hop")
    )


@query(
    "scan_structural_similarity",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_SCAN_EDGE_SQL} % 10000 < 400
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY src),
    cn AS (
        SELECT e.src, e.dst, CAST(count(*) AS BIGINT) AS common
        FROM e JOIN sym na ON na.src = e.src
               JOIN sym nb ON nb.src = e.dst AND nb.dst = na.dst
        GROUP BY e.src, e.dst),
    sig AS MATERIALIZED (
        SELECT e.src, e.dst,
               (coalesce(cn.common, 0) + 2.0)
               / sqrt((ds.deg + 1.0) * (dd.deg + 1.0)) AS sigma
        FROM e
        LEFT JOIN cn ON cn.src = e.src AND cn.dst = e.dst
        JOIN deg ds ON ds.id = e.src
        JOIN deg dd ON dd.id = e.dst),
    core AS (
        SELECT id, CAST(count(*) AS BIGINT) AS eps_neighbors
        FROM (SELECT src AS id, sigma FROM sig
              UNION ALL SELECT dst, sigma FROM sig)
        WHERE sigma >= 0.5 GROUP BY id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM core
            WHERE eps_neighbors >= 3) AS n_core,
           (SELECT round(avg(sigma), 6) FROM sig) AS mean_sigma
    """,
)
def scan_structural_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCAN structural similarity census (Xu et al. 2007): per-edge
    sigma(u,v) = (|N(u) ∩ N(v)| + 2) / sqrt((d(u)+1)(d(v)+1)) (closed
    neighborhoods) on the deterministic 4%-sampled supplier graph,
    plus the eps=0.5 / mu=3 CORE census — the density-based community
    primitive that, unlike LPA/modularity, explicitly separates hubs
    and outliers from community cores. The wedge join is the same
    compact-forward shape as triangle counting (skew-safe: per-edge
    fan-out is bounded by the smaller endpoint neighborhood); sigma
    values are exact-integer expressions so the 0.5 threshold can
    never flip between engines."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 400, "scan").persist()
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    na = sym.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    nb = sym.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    cn = (
        e.join(na, F.col("src") == F.col("u"))
        .join(nb, (F.col("dst") == F.col("v")) & (na["w"] == nb["w"]))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    ds = deg.select(F.col("id").alias("src"), F.col("deg").alias("ds"))
    dd = deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd"))
    sig = (
        e.join(cn, ["src", "dst"], "left")
        .join(F.broadcast(ds), "src")
        .join(F.broadcast(dd), "dst")
        .select(
            "src",
            "dst",
            (
                (F.coalesce(F.col("common"), F.lit(0)) + 2.0)
                / F.sqrt((F.col("ds") + 1.0) * (F.col("dd") + 1.0))
            ).alias("sigma"),
        )
        .persist()
    )
    core = (
        sig.select(F.col("src").alias("id"), "sigma")
        .unionByName(sig.select(F.col("dst").alias("id"), "sigma"))
        .filter(F.col("sigma") >= 0.5)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("eps_neighbors"))
        .filter(F.col("eps_neighbors") >= 3)
        .agg(F.count(F.lit(1)).cast("long").alias("n_core"))
    )
    stats = sig.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.round(F.avg("sigma"), 6).alias("mean_sigma"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        nn.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(core))
        .select("n_nodes", "n_edges", "n_core", "mean_sigma")
    )


# =====================================================================
# Round-5 continuation: robust-location family — exact order-statistic
# median CI, trimmed/winsorized means — and top session paths.
# =====================================================================
@query(
    "median_ci_binomial",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
    d AS (SELECT o_totalprice AS x, CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1),
    cum AS MATERIALIZED (
        SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cum FROM d),
    ks AS (SELECT CAST(floor((n + 1) / 2.0) AS BIGINT) AS k_med,
                  greatest(CAST(floor((n - 1.959964 * sqrt(n)) / 2.0)
                                AS BIGINT), 1) AS k_lo,
                  least(CAST(ceil(1 + (n + 1.959964 * sqrt(n)) / 2.0)
                             AS BIGINT), n) AS k_hi,
                  n
           FROM n)
    SELECT ks.n,
           (SELECT min(x) FROM cum WHERE cum >= ks.k_med) AS median,
           (SELECT min(x) FROM cum WHERE cum >= ks.k_lo) AS ci_lo,
           (SELECT min(x) FROM cum WHERE cum >= ks.k_hi) AS ci_hi
    FROM ks
    """,
)
def median_ci_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distribution-free confidence interval for the median of
    order totals via the binomial order-statistic argument: the 95%
    CI is [x_(k_lo), x_(k_hi)] with k = (n ∓ z*sqrt(n))/2 — no
    resampling, no normality, exact for ANY continuous distribution
    (the CI the bootstrap approximates). All three order statistics
    are read off ONE distinct-value cumulative frame ('min value
    whose cumulative count reaches k'), so there is no corpus-sized
    global sort — the same 100 TB shape as weighted_median_price.
    Integer ranks mean both engines select identical values."""
    o = _t(spark, sf_dir, "orders")
    n = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = o.groupBy(F.col("o_totalprice").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # bucketed prefix sums — distinct-value frame grows with the
    # corpus until value-support saturation (r8: support -> bucketed)
    cum = st.bucketed_prefix_sums(d, "x", ["c"], n_buckets=32).select(
        "x", F.col("cum_c").cast("long").alias("cum")
    )
    ks = n.select(
        "n",
        F.floor((F.col("n") + 1) / 2.0).cast("long").alias("k_med"),
        F.greatest(
            F.floor((F.col("n") - 1.959964 * F.sqrt("n")) / 2.0).cast("long"),
            F.lit(1),
        ).alias("k_lo"),
        F.least(
            F.ceil(1 + (F.col("n") + 1.959964 * F.sqrt("n")) / 2.0).cast("long"),
            F.col("n"),
        ).alias("k_hi"),
    )
    sel = cum.crossJoin(F.broadcast(ks)).agg(
        F.min(F.when(F.col("cum") >= F.col("k_med"), F.col("x"))).alias("median"),
        F.min(F.when(F.col("cum") >= F.col("k_lo"), F.col("x"))).alias("ci_lo"),
        F.min(F.when(F.col("cum") >= F.col("k_hi"), F.col("x"))).alias("ci_hi"),
    )
    return n.crossJoin(F.broadcast(sel)).select("n", "median", "ci_lo", "ci_hi")


@query(
    "trimmed_winsorized_price",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(floor(count(*) * 0.05) AS BIGINT) AS k
               FROM orders),
    d AS (SELECT o_totalprice AS x, CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1),
    cum AS MATERIALIZED (
        SELECT x, c,
               CAST(sum(c) OVER (ORDER BY x) AS BIGINT) - c AS cb
        FROM d),
    wts AS (
        SELECT x, c, cb,
               greatest(least(cb + c, (SELECT n - k FROM n))
                        - greatest(cb + 1, (SELECT k + 1 FROM n)) + 1,
                        0) AS w
        FROM cum),
    bounds AS (
        SELECT (SELECT min(x) FROM cum
                WHERE cb + c >= (SELECT k + 1 FROM n)) AS lo_val,
               (SELECT min(x) FROM cum
                WHERE cb + c >= (SELECT n - k FROM n)) AS hi_val),
    s AS (SELECT sum(x * c) AS sx, sum(x * w) AS sw FROM wts)
    SELECT (SELECT n FROM n) AS n, (SELECT k FROM n) AS k_trim,
           round(s.sx / (SELECT n FROM n), 6) AS mean,
           round(s.sw / ((SELECT n FROM n) - 2 * (SELECT k FROM n)), 6)
               AS trimmed_mean,
           round((s.sw + (SELECT k FROM n) * b.lo_val
                       + (SELECT k FROM n) * b.hi_val)
                 / (SELECT n FROM n), 6) AS winsorized_mean
    FROM s, bounds b
    """,
)
def trimmed_winsorized_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed and winsorized means of order totals — the robust
    location estimates between the outlier-chasing mean and the
    information-discarding median (trimmed drops each 5% tail;
    winsorized clamps tails to the cut values x_(k+1) / x_(n-k)).
    Rank arithmetic runs entirely on the distinct-value cumulative
    frame: each value's kept weight is the integer overlap of its
    rank span [cb+1, cb+c] with [k+1, n-k] — one groupBy + one
    distinct-values window, no per-row global sort, exact in both
    engines."""
    o = _t(spark, sf_dir, "orders")
    n = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(F.count(F.lit(1)) * 0.05).cast("long").alias("k"),
    )
    d = o.groupBy(F.col("o_totalprice").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # bucketed prefix sums (r8: support -> bucketed)
    cum = (
        st.bucketed_prefix_sums(d, "x", ["c"], n_buckets=32)
        .select(
            "x", "c",
            (F.col("cum_c").cast("long") - F.col("c")).alias("cb"),
        )
        .crossJoin(F.broadcast(n))
        .persist()
    )
    wts = cum.select(
        "x",
        "c",
        F.greatest(
            F.least(F.col("cb") + F.col("c"), F.col("n") - F.col("k"))
            - F.greatest(F.col("cb") + 1, F.col("k") + 1)
            + 1,
            F.lit(0),
        ).alias("w"),
    )
    bounds = cum.agg(
        F.min(
            F.when(F.col("cb") + F.col("c") >= F.col("k") + 1, F.col("x"))
        ).alias("lo_val"),
        F.min(
            F.when(F.col("cb") + F.col("c") >= F.col("n") - F.col("k"), F.col("x"))
        ).alias("hi_val"),
    )
    s = wts.agg(
        F.sum(F.col("x") * F.col("c")).alias("sx"),
        F.sum(F.col("x") * F.col("w")).alias("sw"),
    )
    return (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(bounds))
        .select(
            "n",
            F.col("k").alias("k_trim"),
            F.round(F.col("sx") / F.col("n"), 6).alias("mean"),
            F.round(F.col("sw") / (F.col("n") - 2 * F.col("k")), 6).alias(
                "trimmed_mean"
            ),
            F.round(
                (
                    F.col("sw")
                    + F.col("k") * F.col("lo_val")
                    + F.col("k") * F.col("hi_val")
                )
                / F.col("n"),
                6,
            ).alias("winsorized_mean"),
        )
    )


@query(
    "frequent_event_paths",
    """
    WITH o AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    p AS (
        SELECT user_id, day,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM o WHERE rn <= 3 GROUP BY user_id, day),
    c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
          FROM p GROUP BY path)
    SELECT path, n_sessions FROM c
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def frequent_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journey openings: the first three event types of each
    user-day (deterministic (ts, event_id) order), concatenated into
    a path string and ranked by frequency — the sunburst/sankey
    behavioral-flow query next to event_transition_matrix (which sees
    only single steps; paths expose ORDER effects like view>click>
    purchase vs click>view>purchase). The window partitions by
    (user, day) so no global sort; path counting is one hash
    aggregation; integer counts with a path tie-break make the top-10
    engine-exact."""
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", F.to_date("ts")).orderBy(
                "ts", "event_id"
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") <= 3)
    p = o.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# =====================================================================
# Round-5 continuation: overdispersion screen, Hurst exponent (R/S),
# entropy rate of the event chain.
# =====================================================================
@query(
    "overdispersion_event_counts",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(avg(n), 6) AS mean_daily,
           round(var_samp(n), 4) AS var_daily,
           round(var_samp(n) / avg(n), 4) AS dispersion,
           CASE WHEN var_samp(n) / avg(n) > 1.5 THEN 1 ELSE 0 END
               AS overdispersed
    FROM daily GROUP BY event_type ORDER BY event_type
    """,
)
def overdispersion_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion screen on daily event counts per type: the
    variance-to-mean ratio (= 1 under Poisson) that decides whether
    count models/alerts should assume Poisson or negative-binomial
    noise — the assumption check BEHIND event_rate_anomalies' z
    thresholds (an overdispersed series false-alarms under Poisson
    limits). One day-keyed rollup; moments per type on the days-sized
    series."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    disp = F.var_samp("n") / F.avg("n")
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg("n"), 6).alias("mean_daily"),
            F.round(F.var_samp("n"), 4).alias("var_daily"),
            F.round(disp, 4).alias("dispersion"),
            F.when(disp > 1.5, 1).otherwise(0).alias("overdispersed"),
        )
        .orderBy("event_type")
    )


@query(
    "hurst_exponent_daily",
    """
    WITH x AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    ix AS MATERIALIZED (
        SELECT n, CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t
        FROM x),
    ms AS (SELECT CAST(unnest([7, 14, 28]) AS BIGINT) AS m),
    blk AS MATERIALIZED (
        SELECT ms.m, CAST(floor(ix.t / ms.m) AS BIGINT) AS b, ix.t, ix.n
        FROM ix JOIN ms ON true),
    fb AS MATERIALIZED (
        SELECT m, b, avg(n) AS mu FROM blk
        GROUP BY m, b HAVING CAST(count(*) AS BIGINT) = m),
    sd_b AS MATERIALIZED (
        SELECT blk.m, blk.b,
               sqrt(sum((blk.n - fb.mu) * (blk.n - fb.mu)) / blk.m) AS sd
        FROM blk JOIN fb ON fb.m = blk.m AND fb.b = blk.b
        GROUP BY blk.m, blk.b),
    dev AS (
        SELECT blk.m, blk.b,
               sum(blk.n - fb.mu) OVER (PARTITION BY blk.m, blk.b
                                        ORDER BY blk.t) AS cd
        FROM blk JOIN fb ON fb.m = blk.m AND fb.b = blk.b),
    rs AS (
        SELECT d.m, d.b, (max(d.cd) - min(d.cd)) / min(s.sd) AS rs
        FROM dev d JOIN sd_b s ON s.m = d.m AND s.b = d.b
        WHERE s.sd > 0 GROUP BY d.m, d.b),
    pts AS MATERIALIZED (
        SELECT ln(m * 1.0) AS lx, ln(avg(rs)) AS ly,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM rs GROUP BY m),
    fit AS (SELECT sum((lx - (SELECT avg(lx) FROM pts))
                       * (ly - (SELECT avg(ly) FROM pts)))
                   / sum((lx - (SELECT avg(lx) FROM pts))
                         * (lx - (SELECT avg(lx) FROM pts))) AS h
            FROM pts)
    SELECT (SELECT CAST(sum(n_blocks) AS BIGINT) FROM pts) AS n_blocks,
           round((SELECT h FROM fit), 6) AS hurst
    """,
)
def hurst_exponent_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series by rescaled-
    range (R/S) analysis at block sizes 7/14/28: H > 0.5 means
    long-range dependence (trending / bursty days cluster), H < 0.5
    anti-persistence — the memory diagnostic that says whether
    trailing-window anomaly baselines (event_rate_anomalies) decay
    realistically. Per block: R = range of cumulative deviations
    from the block mean, S = population sd; H = OLS slope of
    ln(mean R/S) on ln(m). Every window is (m, block)-partitioned on
    the days-sized series — nothing global, nothing corpus-sized
    after the day rollup."""
    ev = _t(spark, sf_dir, "events")
    x = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ix = x.select(
        "n",
        (F.row_number().over(Window.orderBy("day")) - 1).cast("long").alias("t"),
    )
    ms = (
        spark.range(1)
        .select(F.explode(F.array(F.lit(7), F.lit(14), F.lit(28))).alias("m0"))
        .select(F.col("m0").cast("long").alias("m"))
    )
    blk = ix.crossJoin(F.broadcast(ms)).select(
        "m", F.floor(F.col("t") / F.col("m")).cast("long").alias("b"), "t", "n"
    ).persist()
    wb = Window.partitionBy("m", "b")
    stats = (
        blk.select(
            "m", "b", "t", "n",
            F.avg("n").over(wb).alias("mu"),
            F.count("n").over(wb).alias("cnt"),
        )
        .filter(F.col("cnt") == F.col("m"))
    )
    sd = (
        stats.groupBy("m", "b")
        .agg(
            F.sqrt(
                F.sum((F.col("n") - F.col("mu")) * (F.col("n") - F.col("mu")))
                / F.first("m")
            ).alias("sd"),
            F.first("mu").alias("mu"),
        )
    )
    wcd = Window.partitionBy("m", "b").orderBy("t")
    dev = (
        stats.select("m", "b", "t", "n", "mu")
        .withColumn("cd", F.sum(F.col("n") - F.col("mu")).over(wcd))
    )
    rs = (
        dev.groupBy("m", "b")
        .agg((F.max("cd") - F.min("cd")).alias("r"))
        .join(sd.select("m", "b", "sd"), ["m", "b"])
        .filter(F.col("sd") > 0)
        .select("m", (F.col("r") / F.col("sd")).alias("rs"))
    )
    pts = rs.groupBy("m").agg(
        F.log(F.avg("rs")).alias("ly"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    ).select(F.log(F.col("m").cast("double")).alias("lx"), "ly", "n_blocks").persist()
    mean_pts = pts.agg(F.avg("lx").alias("mx"), F.avg("ly").alias("my"))
    fit = (
        pts.crossJoin(F.broadcast(mean_pts))
        .agg(
            (
                F.sum((F.col("lx") - F.col("mx")) * (F.col("ly") - F.col("my")))
                / F.sum((F.col("lx") - F.col("mx")) * (F.col("lx") - F.col("mx")))
            ).alias("h"),
            F.sum("n_blocks").cast("long").alias("n_blocks"),
        )
    )
    return fit.select("n_blocks", F.round("h", 6).alias("hurst"))


@query(
    "entropy_rate_events",
    """
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events),
    trans AS MATERIALIZED (
        SELECT event_type AS a, next_type AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    row_t AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM trans GROUP BY a),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(count(DISTINCT a) AS BIGINT) AS k FROM trans),
    h AS (SELECT sum((t.n * 1.0 / (SELECT nt FROM tot))
                     * ln(t.n * 1.0 / r.na)) AS neg_h
          FROM trans t JOIN row_t r ON r.a = t.a)
    SELECT (SELECT nt FROM tot) AS n_transitions,
           (SELECT k FROM tot) AS k_states,
           round(-neg_h, 6) AS entropy_rate,
           round(ln((SELECT k FROM tot) * 1.0), 6) AS max_entropy,
           round(-neg_h / ln((SELECT k FROM tot) * 1.0), 6) AS randomness
    FROM h
    """,
)
def entropy_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user event chain: H = -sum_ij pi_i P(j|i)
    ln P(j|i) with the empirical visit distribution as pi — the
    predictability ceiling of user behavior (randomness = H/ln(k):
    1.0 = uniformly random next-action, 0 = deterministic), the
    scalar summary the transition matrix (event_transition_matrix)
    and stationary distribution (markov_stationary_events) expand.
    Same deterministic (ts, event_id) sequence windows; the H sum
    runs over the <= k^2 transition cells with exact-integer
    probabilities."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("a"), F.col("next_type").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    row_t = trans.groupBy("a").agg(F.sum("n").cast("long").alias("na"))
    tot = trans.agg(
        F.sum("n").cast("long").alias("nt"),
        F.countDistinct("a").cast("long").alias("k"),
    )
    h = (
        trans.join(F.broadcast(row_t), "a")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n") / F.col("nt")) * F.log(F.col("n") / F.col("na"))
            ).alias("neg_h"),
            F.first("nt").alias("nt"),
            F.first("k").alias("k"),
        )
    )
    return h.select(
        F.col("nt").alias("n_transitions"),
        F.col("k").alias("k_states"),
        F.round(-F.col("neg_h"), 6).alias("entropy_rate"),
        F.round(F.log(F.col("k").cast("double")), 6).alias("max_entropy"),
        F.round(
            -F.col("neg_h") / F.log(F.col("k").cast("double")), 6
        ).alias("randomness"),
    )


# =====================================================================
# Round-5 continuation: link-prediction heuristic evaluation (the
# repo's namesake task), nation homophily, triangle significance.
# =====================================================================
_LP_EDGE_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'lp'"
)
_LP_SPLIT_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'lpsplit'"
)
_AS_EDGE_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'as'"
)
_LP_K = 50


@query(
    "linkpred_heuristic_eval",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_LP_EDGE_SQL} % 10000 < 400
    ),
    tr AS MATERIALIZED (
        SELECT src, dst FROM e WHERE {_LP_SPLIT_SQL} % 10 < 8),
    te AS MATERIALIZED (
        SELECT src, dst FROM e WHERE {_LP_SPLIT_SQL} % 10 >= 8),
    sym AS MATERIALIZED (
        SELECT src, dst FROM tr UNION SELECT dst, src FROM tr),
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY src),
    cand AS MATERIALIZED (
        SELECT na.src AS u, nb.src AS v, na.dst AS w
        FROM sym na JOIN sym nb ON nb.dst = na.dst AND na.src < nb.src
        WHERE NOT EXISTS (SELECT 1 FROM tr
                          WHERE tr.src = na.src AND tr.dst = nb.src)),
    sc AS MATERIALIZED (
        SELECT c.u, c.v,
               CAST(count(*) AS BIGINT) AS cn,
               round(sum(1.0 / ln(d.deg)), 6) AS aa,
               round(CAST(count(*) AS DOUBLE)
                     / (min(du.deg) + min(dv.deg) - count(*)), 6) AS jac
        FROM cand c
        JOIN deg d ON d.id = c.w
        JOIN deg du ON du.id = c.u
        JOIN deg dv ON dv.id = c.v
        GROUP BY c.u, c.v),
    ranked AS (
        SELECT 'common_neighbors' AS heuristic, u, v,
               row_number() OVER (ORDER BY cn DESC, u, v) AS rk FROM sc
        UNION ALL
        SELECT 'adamic_adar', u, v,
               row_number() OVER (ORDER BY aa DESC, u, v) FROM sc
        UNION ALL
        SELECT 'jaccard', u, v,
               row_number() OVER (ORDER BY jac DESC, u, v) FROM sc),
    hits AS (
        SELECT heuristic, CAST(count(te.src) AS BIGINT) AS hits
        FROM ranked LEFT JOIN te ON te.src = ranked.u AND te.dst = ranked.v
        WHERE ranked.rk <= {_LP_K}
        GROUP BY heuristic)
    SELECT h.heuristic, {_LP_K} AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM te) AS n_test_edges,
           h.hits, round(h.hits / {_LP_K}.0, 6) AS precision_at_k
    FROM hits h ORDER BY heuristic
    """,
)
def linkpred_heuristic_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE namesake evaluation: hold out 20% of the sampled supplier
    graph's edges (hash-deterministic split, seed 'lpsplit'), score
    every non-train candidate pair by the three classic link-
    prediction heuristics — common neighbors, Adamic-Adar, Jaccard —
    computed on the TRAIN graph only, and report precision@50 against
    the held-out edges. This machine-checks end-to-end what the ML
    family (pair_features -> MLlib model, AUC pinned in test_ml) does
    with learned weights: the leakage-safe split + wedge scoring +
    round-before-rank top-k, all engine-exact (integer CN ties broken
    by (u, v)). Scale shape: candidates come from the wedge join
    (only pairs with >= 1 common neighbor — never all pairs), the
    same compact-forward shape as triangle counting."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 400, "lp").persist()
    split = mls.hash60(F.format_string("%d-%d", "src", "dst"), F.lit("lpsplit")) % 10
    tr = e.filter(split < 8).persist()
    te = e.filter(split >= 8).persist()
    sym = (
        tr.unionByName(
            tr.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    na = sym.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    nb = sym.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    cand = (
        na.join(nb, ["w"])
        .filter(F.col("u") < F.col("v"))
        .join(
            tr.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            ["u", "v"],
            "left_anti",
        )
    )
    dw = deg.select(F.col("id").alias("w"), F.col("deg").alias("dw"))
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    sc = (
        cand.join(F.broadcast(dw), "w")
        .join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.round(F.sum(1.0 / F.log(F.col("dw"))), 6).alias("aa"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / (F.min("du") + F.min("dv") - F.count(F.lit(1))),
                6,
            ).alias("jac"),
        )
        .persist()
    )
    ranked = None
    for name, col in (
        ("common_neighbors", F.col("cn")),
        ("adamic_adar", F.col("aa")),
        ("jaccard", F.col("jac")),
    ):
        # head via TakeOrderedAndProject, then rank the _LP_K-row
        # head — no global window over the candidate-pair frame
        # (r8 lint)
        r = (
            sc.orderBy(col.desc(), "u", "v")
            .limit(_LP_K)
            .select(
                F.lit(name).alias("heuristic"),
                "u",
                "v",
                F.row_number()
                .over(Window.orderBy(col.desc(), "u", "v"))
                .alias("rk"),
            )
        )
        ranked = r if ranked is None else ranked.unionByName(r)
    hits = (
        ranked.join(
            te.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.lit(1).alias("hit")),
            ["u", "v"],
            "left",
        )
        .groupBy("heuristic")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hits"))
    )
    nte = te.agg(F.count(F.lit(1)).cast("long").alias("n_test_edges"))
    return (
        hits.crossJoin(F.broadcast(nte))
        .select(
            "heuristic",
            F.lit(_LP_K).cast("int").alias("k"),
            "n_test_edges",
            "hits",
            F.round(F.col("hits") / float(_LP_K), 6).alias("precision_at_k"),
        )
        .orderBy("heuristic")
    )


@query(
    "attribute_assortativity_nation",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id,
                      s_nationkey::BIGINT AS nat FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_AS_EDGE_SQL} % 10000 < 400
    ),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    mix AS MATERIALIZED (
        SELECT sa.nat AS ni, sb.nat AS nj, CAST(count(*) AS BIGINT) AS c
        FROM sym JOIN s sa ON sa.id = sym.src JOIN s sb ON sb.id = sym.dst
        GROUP BY 1, 2),
    -- All sufficient statistics are EXACT integers (mixing-matrix
    -- counts); each output is ONE IEEE division of exact integers so
    -- Spark and DuckDB agree bit-for-bit regardless of partial-sum
    -- merge order: tr = sd/m2, sab = sr2/m2^2, and Newman's
    -- r = (tr - sab)/(1 - sab) = (m2*sd - sr2)/(m2^2 - sr2).
    m AS (SELECT CAST(sum(c) AS BIGINT) AS m2,
                 CAST(sum(CASE WHEN ni = nj THEN c ELSE 0 END) AS BIGINT)
                     AS sd
          FROM mix),
    marg AS (SELECT ni, CAST(sum(c) AS BIGINT) AS r FROM mix GROUP BY ni),
    sq AS (SELECT CAST(sum(r * r) AS BIGINT) AS sr2 FROM marg)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           round(sd / m2, 6) AS same_nation_frac,
           round((m2 * sd - sr2) / (m2 * m2 - sr2), 6) AS assortativity
    FROM m, sq
    """,
)
def attribute_assortativity_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical (attribute) assortativity of the sampled supplier
    graph by NATION — Newman's r = (tr(e) - sum a_i^2)/(1 - sum a_i^2)
    on the edge mixing matrix: the homophily coefficient, the single
    most-cited social-network statistic ('do suppliers link within
    their country?'), complementing degree_assortativity (which mixes
    by degree, not attribute). The mixing matrix is nations² (<= 625
    cells) from ONE edge-endpoint join; every sufficient statistic is
    an EXACT integer and each output is ONE IEEE division, so the hash
    matches DuckDB bit-for-bit regardless of partial-sum merge order:
    tr = sd/m2, sab = sr2/m2², and Newman's
    r = (tr - sab)/(1 - sab) = (m2·sd - sr2)/(m2² - sr2).
    The long products m2·sd and m2² are exact below 2^63 (m2 up to
    ~3.04e9, about 1.5e9 sampled edges) and cannot wrap silently past
    it: ``get_spark`` sessions run with ``spark.sql.ansi.enabled`` on
    (the Spark 4 default), so an overflowing product raises
    ARITHMETIC_OVERFLOW, as the DuckDB oracle does on BIGINT."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id"),
        F.col("s_nationkey").cast("long").alias("nat"),
    )
    e = tg.sampled_edges(sup, 400, "as")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sa = sup.select(F.col("id").alias("src"), F.col("nat").alias("ni"))
    sb = sup.select(F.col("id").alias("dst"), F.col("nat").alias("nj"))
    mix = (
        sym.join(F.broadcast(sa), "src")
        .join(F.broadcast(sb), "dst")
        .groupBy("ni", "nj")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    m = mix.agg(
        F.sum("c").cast("long").alias("m2"),
        F.sum(F.when(F.col("ni") == F.col("nj"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("sd"),
    )
    sq = (
        mix.groupBy("ni")
        .agg(F.sum("c").cast("long").alias("r"))
        .agg(F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"))
    )
    m2, sd, sr2 = F.col("m2"), F.col("sd"), F.col("sr2")
    return m.crossJoin(F.broadcast(sq)).select(
        (m2 / 2).cast("long").alias("n_edges"),
        F.round(sd / m2, 6).alias("same_nation_frac"),
        F.round((m2 * sd - sr2) / (m2 * m2 - sr2), 6).alias("assortativity"),
    )


@query(
    "triangle_significance_null",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_SCAN_EDGE_SQL} % 10000 < 400
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY src),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM e ab JOIN e bc ON bc.src = ab.dst JOIN e ac
             ON ac.src = ab.src AND ac.dst = bc.dst),
    ds AS (SELECT CAST(sum(d) AS BIGINT) AS s1,
                  sum(d * (d - 1.0)) AS s2 FROM deg)
    SELECT tri.t AS n_triangles,
           round(CASE WHEN ds.s1 > 0
                      THEN power(ds.s2 / ds.s1, 3) / 6.0 END, 4)
               AS expected_null,
           round(CASE WHEN ds.s1 > 0 AND ds.s2 > 0
                      THEN tri.t / (power(ds.s2 / ds.s1, 3) / 6.0) END, 4)
               AS ratio_vs_null
    FROM tri, ds
    """,
)
def triangle_significance_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-count significance against the configuration-model
    null: E[T] = (1/6)(sum d(d-1) / sum d)^3 — the degree-preserving
    random graph's expected triangles in closed form (Newman 2003),
    so ratio >> 1 certifies genuine clustering rather than a hub
    artifact (the null model check behind clustering_coefficient and
    triangle_census that neither reports). Exact a<b<c triangle join
    on the sampled graph + one degree-moment aggregation; the null
    expectation is 1-row arithmetic."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 400, "scan").persist()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (
        ab.join(bc, "b").join(ac, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    ds = deg.agg(
        F.sum("d").cast("long").alias("s1"),
        F.sum(F.col("d") * (F.col("d") - 1.0)).alias("s2"),
    )
    exp_null = F.pow(F.col("s2") / F.col("s1"), 3) / 6.0
    return tri.crossJoin(F.broadcast(ds)).select(
        F.col("t").alias("n_triangles"),
        F.round(F.when(F.col("s1") > 0, exp_null), 4).alias("expected_null"),
        F.round(
            F.when(
                (F.col("s1") > 0) & (F.col("s2") > 0), F.col("t") / exp_null
            ),
            4,
        ).alias("ratio_vs_null"),
    )


# =====================================================================
# Round-5 continuation: log-rank survival comparison, embedding
# centroid drift by label.
# =====================================================================
@query(
    "logrank_test_cohorts",
    """
    WITH ends AS (SELECT max(ts) AS obs_end FROM events),
    u AS (SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS s
          FROM events GROUP BY user_id HAVING s IS NOT NULL),
    p AS (SELECT e.user_id, min(e.ts) AS p
          FROM events e JOIN u ON u.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= u.s
          GROUP BY e.user_id),
    d AS MATERIALIZED (
        SELECT CAST(u.user_id % 2 AS INTEGER) AS arm,
               CASE WHEN p.p IS NOT NULL THEN 1 ELSE 0 END AS event,
               CAST(floor(epoch_us(coalesce(p.p, (SELECT obs_end FROM ends)))
                          / 86400000000.0
                          - epoch_us(u.s) / 86400000000.0
                          + CASE WHEN epoch_us(coalesce(p.p,
                                     (SELECT obs_end FROM ends)))
                                      % 86400000000
                                   < epoch_us(u.s) % 86400000000
                                 THEN 1 ELSE 0 END * 0) AS BIGINT) AS dur0,
               CAST(floor((epoch_us(coalesce(p.p, (SELECT obs_end FROM ends)))
                           - epoch_us(u.s)) / 86400000000.0) AS BIGINT) AS dur
        FROM u LEFT JOIN p ON p.user_id = u.user_id),
    tot AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS t0,
                   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS t1
            FROM d),
    g AS MATERIALIZED (
        SELECT dur,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
               CAST(sum(CASE WHEN arm = 0 THEN event ELSE 0 END) AS BIGINT)
                   AS d0,
               CAST(sum(CASE WHEN arm = 1 THEN event ELSE 0 END) AS BIGINT)
                   AS d1
        FROM d GROUP BY dur),
    r AS (SELECT dur, d0, d1,
                 (SELECT t0 FROM tot)
                 - coalesce(sum(a0) OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS n0,
                 (SELECT t1 FROM tot)
                 - coalesce(sum(a1) OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS n1
          FROM g),
    s AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
                 sum((d0 + d1) * n1 * 1.0 / (n0 + n1)) AS e1,
                 sum(CASE WHEN n0 + n1 > 1
                          THEN (d0 + d1) * (n1 * 1.0 / (n0 + n1))
                               * (1.0 - n1 * 1.0 / (n0 + n1))
                               * (n0 + n1 - d0 - d1) * 1.0 / (n0 + n1 - 1)
                          ELSE 0 END) AS v
          FROM r WHERE d0 + d1 > 0)
    SELECT (SELECT t0 FROM tot) AS n_arm0, (SELECT t1 FROM tot) AS n_arm1,
           o1 AS observed_arm1,
           round(e1, 6) AS expected_arm1,
           round((o1 - e1) * (o1 - e1) / v, 6) AS logrank_chi2
    FROM s
    """,
)
def logrank_test_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between the two parity cohorts on the same
    signup -> first-purchase survival data kaplan_meier_conversion
    curves: at each event time, arm 1's expected events come from the
    pooled hazard applied to its at-risk share; chi2 = (O-E)^2/V with
    the hypergeometric variance — the censoring-correct way to ask
    'do the cohorts convert at different speeds?' (a naive rate
    compare throws censored users away). At-risk counts are
    cumulative windows over the days-sized duration table; the only
    corpus-sized pass is the per-user rollup."""
    from social_link_prediction_spark.operators.windows import epoch_us

    ev = _t(spark, sf_dir, "events")
    ends = ev.agg(F.max("ts").alias("obs_end"))
    u = (
        ev.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"))
        .filter(F.col("s").isNotNull())
    )
    p = (
        u.join(ev, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("s")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    d = (
        u.join(p, "user_id", "left")
        .crossJoin(F.broadcast(ends))
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("event"),
            F.floor(
                (
                    epoch_us(F.coalesce(F.col("p"), F.col("obs_end")))
                    - epoch_us(F.col("s"))
                )
                / 86_400_000_000
            ).alias("dur"),
        )
    )
    tot = d.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("t0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("t1"),
    )
    g = d.groupBy("dur").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("a0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("a1"),
        F.sum(F.when(F.col("arm") == 0, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d0"),
        F.sum(F.when(F.col("arm") == 1, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d1"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    r = g.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d0",
        "d1",
        (F.col("t0") - F.coalesce(F.sum("a0").over(wprev), F.lit(0))).alias("n0"),
        (F.col("t1") - F.coalesce(F.sum("a1").over(wprev), F.lit(0))).alias("n1"),
    )
    dt = F.col("d0") + F.col("d1")
    nt = F.col("n0") + F.col("n1")
    sh = F.col("n1") / nt
    s = r.filter(dt > 0).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(dt * sh).alias("e1"),
        F.sum(
            F.when(
                nt > 1,
                dt * sh * (1.0 - sh) * (nt - dt) / (nt - 1),
            ).otherwise(0.0)
        ).alias("v"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("t0").alias("n_arm0"),
        F.col("t1").alias("n_arm1"),
        F.col("o1").alias("observed_arm1"),
        F.round("e1", 6).alias("expected_arm1"),
        F.round(
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"),
            6,
        ).alias("logrank_chi2"),
    )


@query(
    "embedding_drift_by_label",
    """
    WITH x AS (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    cl AS MATERIALIZED (
        SELECT label, dim, avg(v) AS c, CAST(count(*) AS BIGINT) AS n
        FROM x GROUP BY label, dim),
    cg AS MATERIALIZED (SELECT dim, avg(v) AS g FROM x GROUP BY dim),
    j AS (SELECT cl.label, cl.n, cl.c, cg.g
          FROM cl JOIN cg ON cg.dim = cl.dim)
    SELECT label, min(n) AS n_vectors,
           round(sqrt(sum((c - g) * (c - g))), 6) AS centroid_l2,
           round(sum(c * g) / (sqrt(sum(c * c)) * sqrt(sum(g * g))), 6)
               AS centroid_cosine
    FROM j GROUP BY label ORDER BY label
    """,
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: per-label centroid distance and
    cosine against the global centroid — the MLOps check that a
    subpopulation's representation hasn't wandered (feeding the
    retrain/recalibrate decision), the vector analogue of
    psi_totalprice_drift. One posexplode + one (label, dim) rollup is
    the only corpus-sized work (dims are the 'columns' of the vector
    table); centroid comparisons run on the labels x dims frame. At
    100 TB the same two aggregations hold — centroids are mergeable
    means."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "v0")
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    cl = x.groupBy("label", "dim").agg(
        F.avg("v").alias("c"), F.count(F.lit(1)).cast("long").alias("n")
    )
    cg = x.groupBy("dim").agg(F.avg("v").alias("g"))
    j = cl.join(F.broadcast(cg), "dim")
    return (
        j.groupBy("label")
        .agg(
            F.min("n").alias("n_vectors"),
            F.round(
                F.sqrt(F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g")))),
                6,
            ).alias("centroid_l2"),
            F.round(
                F.sum(F.col("c") * F.col("g"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("g") * F.col("g")))
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


@query(
    "rolling_median_daily",
    """
    WITH x AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    w AS MATERIALIZED (
        SELECT a.day, b.n AS wn, b.day AS wday
        FROM x a JOIN x b
          ON b.day >= a.day - INTERVAL 6 DAY AND b.day <= a.day),
    r AS (SELECT day, wn,
                 row_number() OVER (PARTITION BY day ORDER BY wn, wday) AS rk,
                 count(*) OVER (PARTITION BY day) AS c
          FROM w),
    med AS (SELECT day, wn AS med FROM r
            WHERE rk = CAST(floor((c + 1) / 2.0) AS BIGINT))
    SELECT x.day, x.n, CAST(med.med AS BIGINT) AS rolling_median,
           CAST(x.n - med.med AS BIGINT) AS residual
    FROM x JOIN med ON med.day = x.day
    ORDER BY x.day
    """,
)
def rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of daily event volume — the
    robust moving baseline (one spike day shifts a moving average for
    a week; the median shrugs it off), complementing stl_decompose's
    mean-based trend and robust_outlier_days' global median. Spark
    has no median-over-window, so the window is decomposed into a
    bounded calendar range join on the DAYS-SIZED series (each day
    joins <= 7 rows) + an exact lower-median pick per day with a
    (value, day) tie-break — deterministic in both engines, and the
    range join never touches the corpus (one day-keyed count is the
    only corpus-sized stage)."""
    ev = _t(spark, sf_dir, "events")
    x = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()
    a = x.select(F.col("day").alias("day"))
    b = x.select(F.col("day").alias("wday"), F.col("n").alias("wn"))
    w = a.join(
        b,
        (F.col("wday") >= F.date_sub(F.col("day"), 6))
        & (F.col("wday") <= F.col("day")),
    )
    r = w.select(
        "day",
        "wn",
        F.row_number()
        .over(Window.partitionBy("day").orderBy("wn", "wday"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("day")).alias("c"),
    )
    med = r.filter(
        F.col("rk") == F.floor((F.col("c") + 1) / 2.0).cast("long")
    ).select("day", F.col("wn").alias("med"))
    return (
        x.join(med, "day")
        .select(
            "day",
            "n",
            F.col("med").cast("long").alias("rolling_median"),
            (F.col("n") - F.col("med")).cast("long").alias("residual"),
        )
        .orderBy("day")
    )


# =====================================================================
# Round-5 continuation: information value (WOE/IV) and Zipf-law fit.
# =====================================================================
@query(
    "information_value_acctbal",
    """
    WITH scored AS (
        SELECT least(greatest(CAST(floor((c.c_acctbal + 1000.0) / 1200.0)
                                   AS BIGINT), 0), 9) AS bin,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    tot AS (SELECT CAST(sum(label) AS BIGINT) AS ng,
                   CAST(sum(1 - label) AS BIGINT) AS nb FROM scored),
    b AS MATERIALIZED (
        SELECT bin,
               CAST(sum(label) AS BIGINT) AS g,
               CAST(sum(1 - label) AS BIGINT) AS bd,
               CAST(count(*) AS BIGINT) AS n
        FROM scored GROUP BY bin),
    w AS (SELECT bin, n, g, bd,
                 (g + 0.5) / ((SELECT ng FROM tot) + 0.5) AS pg,
                 (bd + 0.5) / ((SELECT nb FROM tot) + 0.5) AS pb
          FROM b)
    SELECT bin, n, g AS n_pos, bd AS n_neg,
           round(ln(pg / pb), 6) AS woe,
           round((pg - pb) * ln(pg / pb), 6) AS iv_term,
           round(sum((pg - pb) * ln(pg / pb)) OVER (), 6) AS iv_total
    FROM w ORDER BY bin
    """,
)
def information_value_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information value of binned account
    balance against the has-orders label — the credit-scoring-native
    feature screen (IV < 0.02 useless, > 0.3 strong) next to
    information_gain_features (entropy view) and psi (drift view),
    with the standard +0.5 Laplace guard so empty bins can't blow up
    the log. One scored join + one bin rollup; WOE/IV are bins-sized
    arithmetic on exact-integer ratios, identical in both engines."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        F.least(
            F.greatest(
                F.floor((F.col("c_acctbal") + 1000.0) / 1200.0).cast("long"),
                F.lit(0),
            ),
            F.lit(9),
        ).alias("bin"),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("label"),
    )
    tot = scored.agg(
        F.sum("label").cast("long").alias("ng"),
        F.sum(1 - F.col("label")).cast("long").alias("nb"),
    )
    b = scored.groupBy("bin").agg(
        F.sum("label").cast("long").alias("g"),
        F.sum(1 - F.col("label")).cast("long").alias("bd"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "g",
        "bd",
        ((F.col("g") + 0.5) / (F.col("ng") + 0.5)).alias("pg"),
        ((F.col("bd") + 0.5) / (F.col("nb") + 0.5)).alias("pb"),
    )
    woe = F.log(F.col("pg") / F.col("pb"))
    return w.select(
        "bin",
        "n",
        F.col("g").alias("n_pos"),
        F.col("bd").alias("n_neg"),
        F.round(woe, 6).alias("woe"),
        F.round((F.col("pg") - F.col("pb")) * woe, 6).alias("iv_term"),
        F.round(
            F.sum((F.col("pg") - F.col("pb")) * woe).over(
                Window.partitionBy()
            ),
            6,
        ).alias("iv_total"),
    ).orderBy("bin")


_ZIPF_TOP = 100


@query(
    "zipf_law_tokens",
    f"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS t
        FROM documents),
    cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    top AS MATERIALIZED (
        SELECT c, CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT)
                      AS rk
        FROM cnt ORDER BY c DESC, t LIMIT {_ZIPF_TOP}),
    pts AS (SELECT ln(rk * 1.0) AS lx, ln(c * 1.0) AS ly FROM top),
    m AS (SELECT avg(lx) AS mx, avg(ly) AS my FROM pts),
    fit AS (SELECT sum((lx - (SELECT mx FROM m)) * (ly - (SELECT my FROM m)))
                   / sum((lx - (SELECT mx FROM m)) * (lx - (SELECT mx FROM m)))
                       AS slope
            FROM pts)
    SELECT {_ZIPF_TOP} AS n_ranks,
           (SELECT CAST(count(*) AS BIGINT) FROM cnt) AS vocab,
           round((SELECT slope FROM fit), 6) AS zipf_slope
    """,
)
def zipf_law_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency spectrum: OLS slope of
    ln(frequency) on ln(rank) for the top-100 tokens (natural text
    sits near -1; synthetic/templated corpora flatten) — the
    rank-side companion of heaps_law_vocab (type growth) and
    powerlaw_gamma (degree tail), and a fast corpus-authenticity
    screen for LLM training mixes. One token-count aggregation is
    corpus-sized; the ranked head is 100 rows with a (count, token)
    tie-break so both engines pick the identical spectrum."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(ptx.tokens("text")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vocab = cnt.agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    # head via TakeOrderedAndProject, then rank the bounded head —
    # rank-then-filter over the distinct-token frame was a one-task
    # global sort (r8 lint)
    head = cnt.orderBy(F.col("c").desc(), "t").limit(_ZIPF_TOP)
    top = head.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "t"))  # <=100-row frame
        .cast("long")
        .alias("rk"),
    )
    pts = top.select(
        F.log(F.col("rk").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    ).persist()
    m = pts.agg(F.avg("lx").alias("mx"), F.avg("ly").alias("my"))
    fit = pts.crossJoin(F.broadcast(m)).agg(
        (
            F.sum((F.col("lx") - F.col("mx")) * (F.col("ly") - F.col("my")))
            / F.sum((F.col("lx") - F.col("mx")) * (F.col("lx") - F.col("mx")))
        ).alias("slope")
    )
    return fit.crossJoin(F.broadcast(vocab)).select(
        F.lit(_ZIPF_TOP).cast("int").alias("n_ranks"),
        "vocab",
        F.round("slope", 6).alias("zipf_slope"),
    )


# =====================================================================
# Round-5 continuation: stratified ATE (propensity quintiles) and
# STL-derived seasonality strength.
# =====================================================================
@query(
    "stratified_ate_estimate",
    """
    WITH f AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               c.c_acctbal,
               CAST(coalesce(o.cnt, 0) AS DOUBLE) AS y
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
                   GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey),
    s AS (
        SELECT t, y,
               least(greatest(CAST(floor((c_acctbal + 1000.0) / 2400.0)
                                   AS BIGINT), 0), 4) AS stratum
        FROM f),
    g AS MATERIALIZED (
        SELECT stratum,
               CAST(sum(t) AS BIGINT) AS n1,
               CAST(sum(1 - t) AS BIGINT) AS n0,
               sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS s1,
               sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS s0,
               CAST(count(*) AS BIGINT) AS n
        FROM s GROUP BY stratum),
    ok AS (SELECT * FROM g WHERE n1 > 0 AND n0 > 0),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM ok)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ok) AS k_strata,
           (SELECT nt FROM tot) AS n_obs,
           round(sum((s1 / n1 - s0 / n0) * n / (SELECT nt FROM tot)), 6)
               AS ate_stratified,
           round(sum(s1) / sum(n1) - sum(s0) / sum(n0), 6) AS ate_naive
    FROM ok
    """,
)
def stratified_ate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (propensity-blocked) average-treatment-effect
    estimate of BUILDING membership on order count, blocking on
    account-balance strata — the estimator the causal family was
    missing: covariate_balance_smd CHECKS comparability, this
    ADJUSTS for it (per-stratum mean differences, size-weighted; the
    naive unadjusted difference is reported alongside so the
    confounding correction is visible). Strata with an empty arm
    drop out (standard positivity handling). One left join + one
    stratum rollup; the estimator is 5-row arithmetic on
    exact-integer ratios."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    f = c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("t"),
        F.least(
            F.greatest(
                F.floor((F.col("c_acctbal") + 1000.0) / 2400.0).cast("long"),
                F.lit(0),
            ),
            F.lit(4),
        ).alias("stratum"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("double").alias("y"),
    )
    g = (
        f.groupBy("stratum")
        .agg(
            F.sum("t").cast("long").alias("n1"),
            F.sum(1 - F.col("t")).cast("long").alias("n0"),
            F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0.0)).alias("s1"),
            F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0.0)).alias("s0"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
        .persist()
    )
    tot = g.agg(F.sum("n").cast("long").alias("nt"))
    k = g.agg(F.count(F.lit(1)).cast("long").alias("k_strata"))
    est = g.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0"))
                * F.col("n")
                / F.col("nt")
            ),
            6,
        ).alias("ate_stratified"),
        F.round(
            F.sum("s1") / F.sum("n1") - F.sum("s0") / F.sum("n0"), 6
        ).alias("ate_naive"),
        F.first("nt").alias("n_obs"),
    )
    return est.crossJoin(F.broadcast(k)).select(
        "k_strata", "n_obs", "ate_stratified", "ate_naive"
    )


@query(
    "seasonality_strength_daily",
    """
    WITH x AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    t AS (SELECT day, n,
                 CASE WHEN count(n) OVER w = 7 THEN avg(n) OVER w END AS trend,
                 datediff('day', DATE '1970-01-05', day) % 7 AS dow
          FROM x
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    sm AS (SELECT dow, avg(n - trend) AS s_raw
           FROM t WHERE trend IS NOT NULL GROUP BY dow),
    sc AS (SELECT avg(s_raw) AS s_mean FROM sm),
    s AS (SELECT dow, s_raw - (SELECT s_mean FROM sc) AS seasonal FROM sm),
    parts AS (
        -- replicate stl_decompose's published 6dp-rounded columns
        SELECT round(t.n - t.trend - s.seasonal, 6) AS rem,
               round(s.seasonal, 6) AS seas
        FROM t JOIN s ON s.dow = t.dow WHERE t.trend IS NOT NULL),
    v AS (SELECT var_samp(rem) AS vr, var_samp(rem + seas) AS vd,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM parts)
    SELECT n_days,
           round(greatest(0.0, 1.0 - vr / vd), 6) AS seasonal_strength,
           round(vr, 4) AS var_remainder,
           round(vd, 4) AS var_detrended
    FROM v
    """,
)
def seasonality_strength_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength F_s = max(0, 1 - Var(remainder) /
    Var(seasonal + remainder)) (Hyndman's STL-feature definition) —
    the one-number answer to 'does this series actually have a
    weekly cycle worth modeling', derived from the same decomposition
    stl_decompose_daily exposes: near 0 -> seasonal-naive forecasts
    (forecast_backtest_daily) add nothing; near 1 -> deseasonalize
    before anomaly screens. Same bounded day-series windows; the
    strength is one moments pass over the decomposed days."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dec = st.stl_decompose(daily, "day", "n", period=7).filter(
        F.col("trend").isNotNull()
    )
    v = dec.agg(
        F.var_samp("remainder").alias("vr"),
        F.var_samp(F.col("remainder") + F.col("seasonal")).alias("vd"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return v.select(
        "n_days",
        F.round(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vd")), 6).alias(
            "seasonal_strength"
        ),
        F.round("vr", 4).alias("var_remainder"),
        F.round("vd", 4).alias("var_detrended"),
    )


# =====================================================================
# Round-5 continuation: Matryoshka truncation audit — does half the
# embedding dimension preserve the top-k neighborhood?
# =====================================================================
@query(
    "matryoshka_truncation_audit",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id <= 2),
    j AS MATERIALIZED (
        SELECT a.aid, e.vec_id,
               round(list_cosine_similarity(e.v, a.av), 6) AS cf,
               round(list_cosine_similarity(e.v[1:32], a.av[1:32]), 6) AS ch
        FROM e JOIN a ON e.vec_id <> a.aid),
    rf AS (SELECT aid, vec_id,
                  row_number() OVER (PARTITION BY aid
                                     ORDER BY cf DESC, vec_id) AS r
           FROM j),
    rh AS (SELECT aid, vec_id,
                  row_number() OVER (PARTITION BY aid
                                     ORDER BY ch DESC, vec_id) AS r
           FROM j)
    SELECT rf.aid AS anchor,
           CAST(count(rh.vec_id) AS BIGINT) AS overlap_at_10,
           round(count(rh.vec_id) / 10.0, 6) AS recall_half_dim
    FROM rf LEFT JOIN rh ON rh.aid = rf.aid AND rh.vec_id = rf.vec_id
                        AND rh.r <= 10
    WHERE rf.r <= 10
    GROUP BY rf.aid ORDER BY anchor
    """,
)
def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: for three anchor
    vectors, how much of the exact full-dimension (64d) cosine top-10
    survives when vectors are truncated to their first 32 dims — the
    measurement behind 'store half the dims, keep most of the
    recall' serving decisions (MRL embeddings), complementing
    int8_quant_error_audit (precision axis) and ann_recall_audit
    (index axis) on the storage-cost frontier. One corpus x 3-anchor
    broadcast join computes both similarities in a single pass;
    round-before-rank with vec_id tie-breaks keeps both engines'
    top-10 sets identical."""
    emb = _t(spark, sf_dir, "embeddings")
    anch = emb.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )
    j = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(anch))
        .filter(F.col("vec_id") != F.col("aid"))
        .select(
            "aid",
            "vec_id",
            F.round(sim.cosine_similarity(F.col("embedding"), F.col("av")), 6).alias(
                "cf"
            ),
            F.round(
                sim.cosine_similarity(
                    F.slice(F.col("embedding"), 1, 32), F.slice(F.col("av"), 1, 32)
                ),
                6,
            ).alias("ch"),
        )
        .persist()
    )
    rf = j.select(
        "aid",
        "vec_id",
        F.row_number()
        .over(Window.partitionBy("aid").orderBy(F.col("cf").desc(), "vec_id"))
        .alias("r"),
    ).filter(F.col("r") <= 10)
    rh = j.select(
        "aid",
        "vec_id",
        F.row_number()
        .over(Window.partitionBy("aid").orderBy(F.col("ch").desc(), "vec_id"))
        .alias("r"),
    ).filter(F.col("r") <= 10)
    return (
        rf.join(rh.select("aid", "vec_id", F.lit(1).alias("hit")), ["aid", "vec_id"], "left")
        .groupBy(F.col("aid").alias("anchor"))
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("overlap_at_10"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 6
            ).alias("recall_half_dim"),
        )
        .orderBy("anchor")
    )


# =====================================================================
# Round-5 continuation: ratio-metric delta method + always-valid
# sequential monitoring (mSPRT) — the online-experimentation finish.
# =====================================================================
@query(
    "delta_method_ratio_se",
    """
    WITH u AS MATERIALIZED (
        SELECT CAST(user_id % 2 AS INTEGER) AS arm,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
                   AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS y
        FROM events GROUP BY user_id),
    g AS MATERIALIZED (
        SELECT arm, CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               avg(y) AS my,
               var_samp(x) AS vx, var_samp(y) AS vy,
               covar_samp(x, y) AS cxy
        FROM u GROUP BY arm),
    r AS (SELECT arm, n, sx / sy AS ratio,
                 sqrt((vx - 2 * (sx / sy) * cxy
                       + (sx / sy) * (sx / sy) * vy)
                      / (n * my * my)) AS se
          FROM g)
    SELECT a.n AS n_arm0, b.n AS n_arm1,
           round(a.ratio, 6) AS ratio_arm0,
           round(b.ratio, 6) AS ratio_arm1,
           round(a.se, 6) AS se_arm0,
           round(b.se, 6) AS se_arm1,
           round((b.ratio - a.ratio)
                 / sqrt(a.se * a.se + b.se * b.se), 4) AS z
    FROM r a JOIN r b ON a.arm = 0 AND b.arm = 1
    """,
)
def delta_method_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric (revenue per
    purchase) compared across the parity arms — the experimentation
    trap ab_test_zscore avoids by using per-user flags: a ratio of
    sums is NOT a mean of iid observations, so its variance needs
    var(x) - 2R cov(x,y) + R^2 var(y) over the per-user (numerator,
    denominator) pairs (Deng et al.'s standard recipe). One user
    rollup, one per-arm moments pass, 2-row arithmetic. The z on the
    arm difference is what a naive per-event t-test would get wrong."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "x", "y")
    g = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    ratio = F.col("sx") / F.col("sy")
    r = g.select(
        "arm",
        "n",
        ratio.alias("ratio"),
        F.sqrt(
            (
                F.col("vx")
                - 2 * ratio * F.col("cxy")
                + ratio * ratio * F.col("vy")
            )
            / (F.col("n") * F.col("my") * F.col("my"))
        ).alias("se"),
    )
    a = r.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_arm0"), F.col("ratio").alias("r0"), F.col("se").alias("se0")
    )
    b = r.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_arm1"), F.col("ratio").alias("r1"), F.col("se").alias("se1")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_arm0",
        "n_arm1",
        F.round("r0", 6).alias("ratio_arm0"),
        F.round("r1", 6).alias("ratio_arm1"),
        F.round("se0", 6).alias("se_arm0"),
        F.round("se1", 6).alias("se_arm1"),
        F.round(
            (F.col("r1") - F.col("r0"))
            / F.sqrt(F.col("se0") * F.col("se0") + F.col("se1") * F.col("se1")),
            4,
        ).alias("z"),
    )


_MSPRT_TAU2 = 0.0001


@query(
    "msprt_ab_monitor",
    f"""
    WITH ud AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS arm, CAST(ts AS DATE) AS day,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id, 2),
    d AS MATERIALIZED (
        SELECT day,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
                   AS c1
        FROM ud GROUP BY day),
    cum AS (
        SELECT day,
               sum(n0) OVER w AS n0, sum(c0) OVER w AS c0,
               sum(n1) OVER w AS n1, sum(c1) OVER w AS c1
        FROM d WINDOW w AS (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    lam AS MATERIALIZED (
        SELECT day, n0 + n1 AS n_cum,
               c1 * 1.0 / n1 - c0 * 1.0 / n0 AS delta,
               ((c0 + c1) * 1.0 / (n0 + n1))
               * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
               * (1.0 / n0 + 1.0 / n1) AS v
        FROM cum WHERE n0 > 0 AND n1 > 0 AND c0 + c1 > 0
                   AND c0 + c1 < n0 + n1),
    l2 AS (
        SELECT day, n_cum, delta,
               sqrt(v / (v + {_MSPRT_TAU2}))
               * exp(delta * delta * {_MSPRT_TAU2}
                     / (2.0 * v * (v + {_MSPRT_TAU2}))) AS lambda
        FROM lam),
    p AS (
        SELECT day, n_cum, delta, lambda,
               least(1.0, 1.0 / max(lambda) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS avp
        FROM l2),
    tail AS (SELECT *, row_number() OVER (ORDER BY day DESC) AS rk FROM p)
    SELECT day, CAST(n_cum AS BIGINT) AS n_cum, round(delta, 6) AS delta,
           round(lambda, 6) AS lambda, round(avp, 6) AS always_valid_p
    FROM tail WHERE rk <= 10 ORDER BY day
    """,
)
def msprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitoring (mixture SPRT, Johari et
    al.): per calendar day, the cumulative two-proportion difference
    feeds the normal-mixture likelihood ratio Lambda_t =
    sqrt(V/(V+tau^2)) * exp(delta^2 tau^2 / (2V(V+tau^2))), and the
    always-valid p-value is 1/max running Lambda — the statistic you
    CAN peek at daily without inflating false positives, which the
    fixed-horizon ab_test_zscore forbids. Trials are user-days
    (parity arms, any-purchase conversion). One user-day rollup is
    corpus-sized; the cumulative/running-max windows run on the
    days-sized series. Reports the last 10 days of the monitor."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "day", "conv")
    d = ud.groupBy("day").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("dn0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("dn1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("dc0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("dc1"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "day",
        F.sum("dn0").over(w).alias("n0"),
        F.sum("dc0").over(w).alias("c0"),
        F.sum("dn1").over(w).alias("n1"),
        F.sum("dc1").over(w).alias("c1"),
    )
    pbar = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    lam = (
        cum.filter(
            (F.col("n0") > 0)
            & (F.col("n1") > 0)
            & (F.col("c0") + F.col("c1") > 0)
            & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
        )
        .select(
            "day",
            (F.col("n0") + F.col("n1")).alias("n_cum"),
            (F.col("c1") / F.col("n1") - F.col("c0") / F.col("n0")).alias("delta"),
            (pbar * (1.0 - pbar) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))).alias(
                "v"
            ),
        )
    )
    tau2 = F.lit(_MSPRT_TAU2)
    l2 = lam.select(
        "day",
        "n_cum",
        "delta",
        (
            F.sqrt(F.col("v") / (F.col("v") + tau2))
            * F.exp(
                F.col("delta")
                * F.col("delta")
                * tau2
                / (2.0 * F.col("v") * (F.col("v") + tau2))
            )
        ).alias("lambda"),
    )
    p = l2.select(
        "day",
        "n_cum",
        "delta",
        "lambda",
        F.least(F.lit(1.0), 1.0 / F.max("lambda").over(w)).alias("avp"),
    )
    return (
        p.select(
            "*", F.row_number().over(Window.orderBy(F.col("day").desc())).alias("rk")
        )
        .filter(F.col("rk") <= 10)
        .select(
            "day",
            F.col("n_cum").cast("long").alias("n_cum"),
            F.round("delta", 6).alias("delta"),
            F.round("lambda", 6).alias("lambda"),
            F.round("avp", 6).alias("always_valid_p"),
        )
        .orderBy("day")
    )


@query(
    "cohort_ltv_curves",
    """
    WITH su AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN CAST(ts AS DATE) END) AS sday
        FROM events GROUP BY user_id HAVING sday IS NOT NULL),
    cohort AS MATERIALIZED (
        SELECT user_id,
               CAST(extract(year FROM sday) * 12 + extract(month FROM sday)
                    AS BIGINT) AS cm
        FROM su),
    csize AS (SELECT cm, CAST(count(*) AS BIGINT) AS n_users
              FROM cohort GROUP BY cm),
    rev AS (
        SELECT c.cm,
               CAST(extract(year FROM CAST(e.ts AS DATE)) * 12
                    + extract(month FROM CAST(e.ts AS DATE)) AS BIGINT)
                   - c.cm AS age,
               sum(e.value) AS r
        FROM events e JOIN cohort c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(extract(year FROM CAST(e.ts AS DATE)) * 12
                   + extract(month FROM CAST(e.ts AS DATE)) AS BIGINT) >= c.cm
        GROUP BY 1, 2),
    cumr AS (
        SELECT cm, age,
               sum(r) OVER (PARTITION BY cm ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
        FROM rev)
    SELECT c.cm AS cohort_month, s.n_users, c.age AS months_since_signup,
           round(c.cum_r / s.n_users, 6) AS cum_ltv_per_user
    FROM cumr c JOIN csize s ON s.cm = c.cm
    ORDER BY cohort_month, months_since_signup
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative purchase revenue per
    signup-month cohort, normalized per cohort member, by months
    since signup — the revenue companion of retention_cohorts (which
    counts activity; this integrates value) and the payback-period /
    LTV:CAC readout every growth team maintains. Corpus-sized work:
    one signup rollup + one cohort-keyed revenue join-aggregate; the
    cumulative window runs on the cohorts x ages frame (calendar-
    bounded). Per-user normalization uses exact integer cohort
    sizes."""
    ev = _t(spark, sf_dir, "events")
    su = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.to_date("ts"))
            ).alias("sday")
        )
        .filter(F.col("sday").isNotNull())
    )
    cohort = su.select(
        "user_id",
        (F.year("sday") * 12 + F.month("sday")).cast("long").alias("cm"),
    ).persist()
    csize = cohort.groupBy("cm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    em = (F.year(F.to_date("ts")) * 12 + F.month(F.to_date("ts"))).cast("long")
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .filter(em >= F.col("cm"))
        .groupBy("cm", (em - F.col("cm")).alias("age"))
        .agg(F.sum("value").alias("r"))
    )
    wc = Window.partitionBy("cm").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumr = rev.select("cm", "age", F.sum("r").over(wc).alias("cum_r"))
    return (
        cumr.join(F.broadcast(csize), "cm")
        .select(
            F.col("cm").alias("cohort_month"),
            "n_users",
            F.col("age").alias("months_since_signup"),
            F.round(F.col("cum_r") / F.col("n_users"), 6).alias(
                "cum_ltv_per_user"
            ),
        )
        .orderBy("cohort_month", "months_since_signup")
    )


# =====================================================================
# Round-5 continuation: token burstiness and Huber-IRLS robust trend.
# =====================================================================
@query(
    "token_burstiness_top",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS t
        FROM documents),
    dc AS MATERIALIZED (
        SELECT t, doc_id, CAST(count(*) AS BIGINT) AS k
        FROM tok GROUP BY t, doc_id),
    agg AS MATERIALIZED (
        SELECT t,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df2,
               CAST(sum(k) AS BIGINT) AS cf
        FROM dc GROUP BY t),
    top AS (SELECT *, row_number() OVER (ORDER BY cf DESC, t) AS rk
            FROM agg)
    SELECT t AS token, cf AS corpus_freq, df AS doc_freq,
           round(df2 * 1.0 / df, 6) AS burstiness,
           round(cf * 1.0 / df, 6) AS mean_in_doc
    FROM top WHERE rk <= 20 ORDER BY rk
    """,
)
def token_burstiness_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale token burstiness for the 20 most frequent tokens:
    P(token repeats in a doc | it occurs at all) = df_2/df — content
    words are bursty (a doc about trains says 'train' many times),
    function words are Poisson-ish; the signal TF-IDF's raw-count
    assumption misses and the diagnostic behind repetition-aware
    quality filters (repetition_ngram_stats flags WITHIN-doc loops;
    this characterizes corpus-wide word behavior). One (token, doc)
    rollup then a token rollup — both hash aggregations; the ranked
    head is 20 rows, (count, token) tie-broken."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ptx.tokens("text")).alias("t"))
    dc = tok.groupBy("t", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    agg = dc.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.when(F.col("k") >= 2, 1).otherwise(0)).cast("long").alias("df2"),
        F.sum("k").cast("long").alias("cf"),
    )
    # limit-first (TakeOrderedAndProject), then rank the 20-row head
    # — no global window over the distinct-token frame (r8 lint)
    top = (
        agg.orderBy(F.col("cf").desc(), "t")
        .limit(20)
        .select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("cf").desc(), "t"))
            .alias("rk"),
        )
    )
    return top.select(
        F.col("t").alias("token"),
        F.col("cf").alias("corpus_freq"),
        F.col("df").alias("doc_freq"),
        F.round(F.col("df2") / F.col("df"), 6).alias("burstiness"),
        F.round(F.col("cf") / F.col("df"), 6).alias("mean_in_doc"),
    ).orderBy("rk")


_HUBER_ROUNDS, _HUBER_K = 3, 1.345


def _duck_huber_sql(rounds: int = _HUBER_ROUNDS) -> str:
    ctes = [
        """m AS MATERIALIZED (
        SELECT CAST((extract(year FROM o_orderdate) - 1995) * 12
                    + extract(month FROM o_orderdate) - 1 AS DOUBLE) AS x,
               sum(o_totalprice) AS y
        FROM orders GROUP BY 1)""",
        """w0 AS (SELECT x, y, 1.0 AS w FROM m)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""f{p} AS (
        SELECT (sum(w) * sum(w * x * y) - sum(w * x) * sum(w * y))
               / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x)) AS b,
               (sum(w * y) - (sum(w) * sum(w * x * y) - sum(w * x) * sum(w * y))
                / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x))
                * sum(w * x)) / sum(w) AS a
        FROM w{p})""")
        ctes.append(f"""r{r} AS (
        SELECT x, y, abs(y - (SELECT a FROM f{p}) - (SELECT b FROM f{p}) * x)
                     AS ar
        FROM w{p})""")
        ctes.append(f"""s{r} AS (
        SELECT ar AS s FROM (
            SELECT ar, row_number() OVER (ORDER BY ar, x) AS rk,
                   count(*) OVER () AS n FROM r{r})
        WHERE rk = CAST(floor((n + 1) / 2.0) AS BIGINT))""")
        ctes.append(f"""w{r} AS (
        SELECT x, y,
               CASE WHEN ar < 1e-12 THEN 1.0
                    ELSE least(1.0, {_HUBER_K} * greatest(
                        (SELECT s FROM s{r}), 1e-9) / ar) END AS w
        FROM r{r})""")
    body = ",\n    ".join(ctes)
    return f"""WITH {body},
    ff AS (
        SELECT (sum(w) * sum(w * x * y) - sum(w * x) * sum(w * y))
               / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x)) AS b,
               sum(w) AS sw
        FROM w{rounds}),
    fa AS (
        SELECT (sum(w * y) - (SELECT b FROM ff) * sum(w * x)) / sum(w) AS a
        FROM w{rounds})
    -- rounding coarsened r7: slopes are O(1e3-1e6) and the intercept
    -- is money-scale O(1e8+) at sf0.1 — 6dp there demands ~1e-14
    -- relative float-sum agreement across engines, past what
    -- partial-agg-vs-sequential summation guarantees (observed 1-ulp
    -- hash flip at sf0.1). 4dp/2dp keep all information a robust
    -- trend consumer uses while staying orders of magnitude inside
    -- the cross-engine drift envelope.
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_points,
           round((SELECT b FROM f0), 4) AS ols_slope,
           round((SELECT b FROM ff), 4) AS huber_slope,
           round((SELECT a FROM fa), 2) AS huber_intercept
    """


@query("huber_revenue_trend", None)
def huber_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber-IRLS robust trend on monthly revenue: 3 unrolled
    iteratively-reweighted least-squares rounds with the standard
    k = 1.345 * (median absolute residual) clipping — between OLS
    (ols_revenue_trend, outlier-chasing) and Theil-Sen
    (theil_sen_revenue_trend, fully rank-based) on the robustness/
    efficiency frontier. The series is calendar-bounded (the only
    corpus-sized work is the monthly rollup), so each IRLS round is
    one aggregate + one broadcast + one exact-median pick
    ((value, x) tie-break); both engines run the identical fixed
    unroll."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        .cast("double")
        .alias("x")
    ).agg(F.sum("o_totalprice").alias("y")).persist()

    def fit(df):
        s = df.agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum(F.col("w") * F.col("y")).alias("swy"),
            F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
            F.sum(F.col("w") * F.col("x") * F.col("y")).alias("swxy"),
        )
        return s.select(
            (
                (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy"))
                / (F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx"))
            ).alias("b"),
            "sw",
            "swx",
            "swy",
        ).select(
            "b", ((F.col("swy") - F.col("b") * F.col("swx")) / F.col("sw")).alias("a")
        )

    cur = m.select("x", "y", F.lit(1.0).alias("w"))
    ols_b = None
    for r in range(1, _HUBER_ROUNDS + 1):
        f = fit(cur)
        if ols_b is None:
            ols_b = f.select(F.col("b").alias("ols_b"))
        rr = cur.crossJoin(F.broadcast(f)).select(
            "x",
            "y",
            F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("ar"),
        )
        med = (
            rr.select(
                "ar",
                F.row_number().over(Window.orderBy("ar", "x")).alias("rk"),
                F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
            )
            .filter(F.col("rk") == F.floor((F.col("n") + 1) / 2.0).cast("long"))
            .select(F.col("ar").alias("s"))
        )
        cur = rr.crossJoin(F.broadcast(med)).select(
            "x",
            "y",
            F.when(F.col("ar") < 1e-12, 1.0)
            .otherwise(
                F.least(
                    F.lit(1.0),
                    _HUBER_K * F.greatest(F.col("s"), F.lit(1e-9)) / F.col("ar"),
                )
            )
            .alias("w"),
        ).localCheckpoint()
    ff = fit(cur)
    n = m.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return (
        n.crossJoin(F.broadcast(ols_b))
        .crossJoin(F.broadcast(ff))
        .select(
            "n_points",
            F.round("ols_b", 4).alias("ols_slope"),
            F.round("b", 4).alias("huber_slope"),
            F.round("a", 2).alias("huber_intercept"),
        )
    )


ORACLES["huber_revenue_trend"] = _duck_huber_sql()


# =====================================================================
# Round-5 continuation: Qini uplift curve and Simpson's-paradox screen.
# =====================================================================
@query(
    "qini_uplift_deciles",
    """
    WITH f AS (
        SELECT c.c_custkey,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS score,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    ranked AS (
        SELECT t, y,
               ntile(10) OVER (ORDER BY score DESC, c_custkey) AS decile
        FROM f),
    d AS MATERIALIZED (
        SELECT decile,
               CAST(sum(t) AS BIGINT) AS nt,
               CAST(sum(1 - t) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
               CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
        FROM ranked GROUP BY decile),
    c AS (
        SELECT decile,
               sum(yt) OVER w AS cyt, sum(nt) OVER w AS cnt_,
               sum(yc) OVER w AS cyc, sum(nc) OVER w AS cnc
        FROM d WINDOW w AS (ORDER BY decile
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT decile,
           CAST(cnt_ AS BIGINT) AS cum_treated,
           CAST(cnc AS BIGINT) AS cum_control,
           round(cyt - cyc * cnt_ * 1.0 / cnc, 6) AS qini,
           round(cyt * 1.0 / cnt_ - cyc * 1.0 / cnc, 6) AS cum_uplift
    FROM c ORDER BY decile
    """,
)
def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve over score deciles: ranking customers by the
    deterministic acctbal score, the cumulative incremental
    conversions Qini(k) = Y_t(k) - Y_c(k) * N_t(k)/N_c(k) — the
    uplift-model evaluation standard (does targeting the top deciles
    actually buy incremental outcomes vs the control mix?), closing
    the causal family's loop: SMD checks balance, stratified ATE
    estimates the average effect, Qini evaluates a TARGETING policy.
    Deterministic ntile (score, custkey tie-break), integer cumulative
    cells, one scored join + one decile rollup."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    f = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("t"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "score"
        ),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    )
    numbered, n_cust = win.global_row_number(
        f, [F.col("score").desc(), F.col("c_custkey")], out="__rn"
    )
    ranked = numbered.select(
        "t",
        "y",
        win.exact_ntile(F.col("__rn"), n_cust, 10).alias("decile"),
    )
    d = ranked.groupBy("decile").agg(
        F.sum("t").cast("long").alias("nt"),
        F.sum(1 - F.col("t")).cast("long").alias("nc"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "decile",
        F.sum("yt").over(w).alias("cyt"),
        F.sum("nt").over(w).alias("cnt_"),
        F.sum("yc").over(w).alias("cyc"),
        F.sum("nc").over(w).alias("cnc"),
    )
    return c.select(
        "decile",
        F.col("cnt_").cast("long").alias("cum_treated"),
        F.col("cnc").cast("long").alias("cum_control"),
        F.round(
            F.col("cyt") - F.col("cyc") * F.col("cnt_") / F.col("cnc"), 6
        ).alias("qini"),
        F.round(
            F.col("cyt") / F.col("cnt_") - F.col("cyc") / F.col("cnc"), 6
        ).alias("cum_uplift"),
    ).orderBy("decile")


@query(
    "simpsons_paradox_screen",
    """
    WITH cells AS MATERIALIZED (
        SELECT c.c_nationkey AS stratum,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                              AND o.o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                              AND o.o_orderstatus <> 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                              AND o.o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                              AND o.o_orderstatus <> 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
    pooled AS (SELECT sign(sum(a) * sum(d) - sum(b) * sum(c)) AS ps
               FROM cells),
    scr AS (
        SELECT stratum, a, b, c, d,
               sign(a * d - b * c) AS ss,
               (SELECT ps FROM pooled) AS ps
        FROM cells WHERE a + b > 0 AND c + d > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST((SELECT ps FROM pooled) AS BIGINT) AS pooled_sign,
           CAST(sum(CASE WHEN ss <> 0 AND ss <> ps THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flipped,
           CAST(sum(CASE WHEN ss = ps THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agreeing
    FROM scr
    """,
)
def simpsons_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen on the urgent-priority x finished-
    status association: the pooled odds-ratio SIGN vs each nation
    stratum's sign — counting strata whose within-group association
    points the other way from the aggregate (the reversal that makes
    pooled dashboards lie, and the reason cmh_test_priority_status
    stratifies). Integer cross-product signs (a*d - b*c), so the
    screen is exact; one join + one stratum rollup, then 25-row
    arithmetic."""
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    fin = F.col("o_orderstatus") == "F"
    cells = (
        o.join(cst, o["o_custkey"] == cst["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("stratum"))
        .agg(
            F.sum(F.when(urgent & fin, 1).otherwise(0)).cast("long").alias("a"),
            F.sum(F.when(urgent & ~fin, 1).otherwise(0)).cast("long").alias("b"),
            F.sum(F.when(~urgent & fin, 1).otherwise(0)).cast("long").alias("c"),
            F.sum(F.when(~urgent & ~fin, 1).otherwise(0)).cast("long").alias("d"),
        )
        .persist()
    )
    pooled = cells.agg(
        F.signum(
            (F.sum("a") * F.sum("d") - F.sum("b") * F.sum("c")).cast("double")
        ).cast("long").alias("ps")
    )
    scr = (
        cells.filter((F.col("a") + F.col("b") > 0) & (F.col("c") + F.col("d") > 0))
        .crossJoin(F.broadcast(pooled))
        .select(
            F.signum(
                (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
            ).cast("long").alias("ss"),
            "ps",
        )
    )
    return scr.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.first("ps").alias("pooled_sign"),
        F.sum(
            F.when((F.col("ss") != 0) & (F.col("ss") != F.col("ps")), 1).otherwise(0)
        ).cast("long").alias("n_flipped"),
        F.sum(F.when(F.col("ss") == F.col("ps"), 1).otherwise(0))
        .cast("long")
        .alias("n_agreeing"),
    )


# =====================================================================
# Round-5 continuation: inter-arrival burstiness and hour-of-day
# goodness-of-fit.
# =====================================================================
@query(
    "interarrival_burstiness_users",
    """
    WITH seq AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0
                   AS gap
        FROM events),
    ub AS MATERIALIZED (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_gaps,
               avg(gap) AS mu,
               coalesce(stddev_pop(gap), 0.0) AS sd
        FROM seq WHERE gap IS NOT NULL
        GROUP BY user_id HAVING count(*) >= 10),
    b AS (SELECT (sd - mu) / (sd + mu) AS b FROM ub WHERE sd + mu > 0),
    r AS (SELECT b, row_number() OVER (ORDER BY b) AS rk,
                 count(*) OVER () AS n
          FROM b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_users,
           round((SELECT avg(b) FROM b), 6) AS mean_b,
           round((SELECT b FROM r
                  WHERE rk = CAST(floor((n + 1) / 2.0) AS BIGINT)), 6)
               AS median_b,
           round((SELECT min(b) FROM b), 6) AS min_b,
           round((SELECT max(b) FROM b), 6) AS max_b
    """,
)
def interarrival_burstiness_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness coefficient B = (sigma - mu)/(sigma +
    mu) of each user's inter-event gaps (B = -1 periodic, 0 Poisson,
    -> 1 bursty), summarized over users with >= 10 gaps — the
    human-dynamics fingerprint that says whether activity models
    (session gap thresholds, decay windows) can assume Poisson
    arrivals; the per-user distributional companion of
    order_interarrival_stats' population percentiles. Gaps come from
    one per-user lag window (epoch_us, TZ-proof); everything after
    runs on the users-sized frame with an exact lower-median pick."""
    from social_link_prediction_spark.operators.windows import epoch_us

    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        (
            (
                epoch_us(F.col("ts"))
                - epoch_us(
                    F.lag("ts").over(
                        Window.partitionBy("user_id").orderBy("ts", "event_id")
                    )
                )
            )
            / 1_000_000.0
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    ub = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.avg("gap").alias("mu"),
            F.coalesce(F.stddev_pop("gap"), F.lit(0.0)).alias("sd"),
        )
        .filter(F.col("n_gaps") >= 10)
    )
    b = ub.filter(F.col("sd") + F.col("mu") > 0).select(
        ((F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu"))).alias("b")
    ).persist()
    n = b.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    # median by rank via the range-partitioned numbering device: the
    # per-user frame grows with the corpus (r8 lint). Ties in b are
    # fine — equal values occupy a contiguous rank block under any
    # range split, so the selected VALUE is deterministic.
    ranked_b, n_b = win.global_row_number(b, ["b"], out="rk")
    med = ranked_b.filter(
        F.col("rk") == F.lit((n_b + 1) // 2)
    ).select(F.col("b").alias("median_b"))
    stats = b.agg(
        F.round(F.avg("b"), 6).alias("mean_b"),
        F.round(F.min("b"), 6).alias("min_b"),
        F.round(F.max("b"), 6).alias("max_b"),
    )
    return (
        n.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(med))
        .select(
            "n_users",
            "mean_b",
            F.round("median_b", 6).alias("median_b"),
            "min_b",
            "max_b",
        )
    )


@query(
    "hour_of_day_uniformity",
    """
    WITH h AS MATERIALIZED (
        SELECT event_type, extract(hour FROM ts) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt
            FROM h GROUP BY event_type),
    grid AS (
        SELECT t.event_type, g.hr, t.nt, coalesce(h.n, 0) AS n
        FROM tot t
        CROSS JOIN (SELECT unnest(range(0, 24)) AS hr) g
        LEFT JOIN h ON h.event_type = t.event_type AND h.hr = g.hr)
    SELECT event_type, CAST(min(nt) AS BIGINT) AS n_events,
           round(sum((n - nt / 24.0) * (n - nt / 24.0) / (nt / 24.0)), 4)
               AS chi2_uniform,
           23 AS dof,
           round(max(n) * 24.0 / min(nt), 4) AS peak_ratio
    FROM grid GROUP BY event_type ORDER BY event_type
    """,
)
def hour_of_day_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of each event type's hour-of-day
    profile against uniformity (+ the peak-hour ratio) — the
    time-of-day GoF completing the family (benford_totalprice = digit
    GoF, ks_test = two-sample shape): a flat profile means bot-like
    traffic, a peaked one means human rhythm, and it decides whether
    hourly models need the (dow, hour) baseline
    seasonal_residual_anomalies uses. Hours come from the NTZ
    wall-clock (TZ-proof); empty hours contribute their full
    (0-E)^2/E via the 24-cell grid."""
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = h.groupBy("event_type").agg(F.sum("n").cast("long").alias("nt"))
    grid = (
        tot.crossJoin(
            F.broadcast(spark.range(24).select(F.col("id").alias("hr")))
        )
        .join(h, ["event_type", "hr"], "left")
        .select(
            "event_type", "nt", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    e = F.col("nt") / 24.0
    return (
        grid.groupBy("event_type")
        .agg(
            F.min("nt").alias("n_events"),
            F.round(F.sum((F.col("n") - e) * (F.col("n") - e) / e), 4).alias(
                "chi2_uniform"
            ),
            F.lit(23).cast("int").alias("dof"),
            F.round(F.max("n") * 24.0 / F.min("nt"), 4).alias("peak_ratio"),
        )
        .select("event_type", "n_events", "chi2_uniform", "dof", "peak_ratio")
        .orderBy("event_type")
    )


@query(
    "clustering_by_degree",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_SCAN_EDGE_SQL} % 10000 < 400
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(count(*) AS BIGINT) AS d
        FROM sym GROUP BY src),
    tri AS (
        SELECT corner AS id, CAST(count(*) AS BIGINT) AS t
        FROM (
            SELECT unnest([ab.src, ab.dst, bc.dst]) AS corner
            FROM e ab JOIN e bc ON bc.src = ab.dst
            JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst)
        GROUP BY corner),
    lc AS (
        SELECT deg.d, coalesce(tri.t, 0) * 2.0 / (deg.d * (deg.d - 1.0))
                   AS c
        FROM deg LEFT JOIN tri ON tri.id = deg.id
        WHERE deg.d >= 2),
    bucket AS (
        SELECT CAST(floor(ln(d) / ln(2.0)) AS BIGINT) AS db, c FROM lc)
    SELECT db AS degree_bucket,
           CAST(power(2, db) AS BIGINT) AS min_degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(avg(c), 6) AS mean_clustering
    FROM bucket GROUP BY db ORDER BY db
    """,
)
def clustering_by_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-vs-degree curve c(k): mean local clustering
    coefficient per log2-degree bucket on the sampled supplier graph
    — hierarchical networks show c(k) ~ k^-1 (Ravasz-Barabási) where
    random graphs are flat, the structural signature
    clustering_coefficient's single global number cannot see. Exact
    per-vertex triangle credits (the compact-forward join, each
    triangle credits its three corners) over broadcast degree
    arithmetic; buckets are integer log2 so both engines bin
    identically."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 400, "scan").persist()
    from social_link_prediction_spark.graph import motifs as mo

    deg = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tri = mo.vertex_triangle_counts(e)
    lc = (
        deg.join(tri, "id", "left")
        .filter(F.col("d") >= 2)
        .select(
            "d",
            (
                F.coalesce(F.col("n_triangles"), F.lit(0))
                * 2.0
                / (F.col("d") * (F.col("d") - 1.0))
            ).alias("c"),
        )
    )
    bucket = lc.select(
        F.floor(F.log("d") / F.log(F.lit(2.0))).cast("long").alias("db"), "c"
    )
    return (
        bucket.groupBy("db")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.round(F.avg("c"), 6).alias("mean_clustering"),
        )
        .select(
            F.col("db").alias("degree_bucket"),
            F.pow(F.lit(2.0), F.col("db")).cast("long").alias("min_degree"),
            "n_nodes",
            "mean_clustering",
        )
        .orderBy("degree_bucket")
    )


# =====================================================================
# Round-5 continuation: Murphy decomposition of the Brier score and
# binned Kendall tau-b.
# =====================================================================
@query(
    "brier_decomposition",
    """
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS score,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    b AS MATERIALIZED (
        SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               avg(score) AS pbar, avg(label) AS obar,
               avg((score - label) * (score - label)) AS bs
        FROM scored GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   sum(n * obar) / sum(n) AS og,
                   sum(n * bs) / sum(n) AS brier
            FROM b)
    SELECT (SELECT nt FROM tot) AS n_obs,
           round((SELECT brier FROM tot), 6) AS brier,
           round(sum(n * (pbar - obar) * (pbar - obar))
                 / (SELECT nt FROM tot), 6) AS reliability,
           round(sum(n * (obar - (SELECT og FROM tot))
                       * (obar - (SELECT og FROM tot)))
                 / (SELECT nt FROM tot), 6) AS resolution,
           round((SELECT og FROM tot) * (1.0 - (SELECT og FROM tot)), 6)
               AS uncertainty
    FROM b
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (same scoring rule as
    calibration_reliability_bins): Brier ≈ reliability - resolution +
    uncertainty over the 10 score bins — the forecast-verification
    identity that says WHY a score is bad (miscalibrated vs
    uninformative vs inherently noisy outcome), which the raw Brier
    number can't distinguish. One scored join + one bin rollup; the
    three components are bins-sized arithmetic."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "score"
        ),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("label"),
    )
    b = scored.groupBy(
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("score").alias("pbar"),
        F.avg("label").alias("obar"),
        F.avg(
            (F.col("score") - F.col("label")) * (F.col("score") - F.col("label"))
        ).alias("bs"),
    ).persist()
    tot = b.agg(
        F.sum("n").cast("long").alias("nt"),
        (F.sum(F.col("n") * F.col("obar")) / F.sum("n")).alias("og"),
        (F.sum(F.col("n") * F.col("bs")) / F.sum("n")).alias("brier"),
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("nt", "og", "brier")
        .agg(
            F.round(
                F.sum(
                    F.col("n")
                    * (F.col("pbar") - F.col("obar"))
                    * (F.col("pbar") - F.col("obar"))
                )
                / F.first("nt"),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(
                    F.col("n")
                    * (F.col("obar") - F.col("og"))
                    * (F.col("obar") - F.col("og"))
                )
                / F.first("nt"),
                6,
            ).alias("resolution"),
        )
        .select(
            F.col("nt").alias("n_obs"),
            F.round("brier", 6).alias("brier"),
            "reliability",
            "resolution",
            F.round(F.col("og") * (1.0 - F.col("og")), 6).alias("uncertainty"),
        )
    )


@query(
    "kendall_tau_binned",
    """
    WITH mm AS (SELECT min(p_retailprice) AS lo, max(p_retailprice) AS hi
                FROM part),
    f AS (
        SELECT least(CAST(floor((p_size - 1) / 5.0) AS BIGINT), 9) AS bx,
               least(CAST(floor((p_retailprice - (SELECT lo FROM mm))
                                / (((SELECT hi FROM mm) - (SELECT lo FROM mm))
                                   / 10.0 + 1e-9)) AS BIGINT), 9) AS by
        FROM part),
    cells AS MATERIALIZED (
        SELECT bx, by, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2),
    pairs AS (
        SELECT sum(CASE WHEN (a.bx < b.bx AND a.by < b.by)
                          OR (a.bx > b.bx AND a.by > b.by)
                        THEN a.c * b.c ELSE 0 END) / 2.0 AS conc,
               sum(CASE WHEN (a.bx < b.bx AND a.by > b.by)
                          OR (a.bx > b.bx AND a.by < b.by)
                        THEN a.c * b.c ELSE 0 END) / 2.0 AS disc
        FROM cells a JOIN cells b
          ON a.bx <> b.bx OR a.by <> b.by OR a.bx = b.bx),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    ties AS (
        SELECT (SELECT CAST(sum(cx * (cx - 1)) AS DOUBLE) / 2 FROM (
                    SELECT sum(c) AS cx FROM cells GROUP BY bx)) AS tx,
               (SELECT CAST(sum(cy * (cy - 1)) AS DOUBLE) / 2 FROM (
                    SELECT sum(c) AS cy FROM cells GROUP BY by)) AS ty)
    SELECT (SELECT n FROM n) AS n_rows,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           round(CASE WHEN (CAST((SELECT n FROM n) AS DOUBLE)
                           * ((SELECT n FROM n) - 1) / 2
                           - (SELECT tx FROM ties)) > 0
                        AND (CAST((SELECT n FROM n) AS DOUBLE)
                             * ((SELECT n FROM n) - 1) / 2
                             - (SELECT ty FROM ties)) > 0
                      THEN (conc - disc)
                 / sqrt((CAST((SELECT n FROM n) AS DOUBLE)
                         * ((SELECT n FROM n) - 1) / 2 - (SELECT tx FROM ties))
                        * (CAST((SELECT n FROM n) AS DOUBLE)
                           * ((SELECT n FROM n) - 1) / 2
                           - (SELECT ty FROM ties))) END, 6) AS tau_b
    FROM pairs
    """,
)
def kendall_tau_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between binned part size and price — the third
    correlation lens (Pearson = linear, Spearman = monotone-rank,
    Kendall = pair-concordance, the most robust and the one with the
    cleanest interpretation: P(concordant) - P(discordant)).
    Computed EXACTLY from the 10x10 binned contingency table:
    concordant/discordant pair counts are cell-product sums, so the
    O(n²) pair enumeration collapses to a 100-cell self-join — the
    same distinct-value trick as the rank family, and the 100 TB
    shape (one groupBy, then control-plane math). Tie corrections
    (tau-b) from the bin marginals."""
    p = _t(spark, sf_dir, "part")
    mm = p.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    )
    f = p.crossJoin(F.broadcast(mm)).select(
        F.least(F.floor((F.col("p_size") - 1) / 5.0).cast("long"), F.lit(9)).alias(
            "bx"
        ),
        F.least(
            F.floor(
                (F.col("p_retailprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10.0 + 1e-9)
            ).cast("long"),
            F.lit(9),
        ).alias("by"),
    )
    cells = f.groupBy("bx", "by").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    a = cells.select(
        F.col("bx").alias("ax"), F.col("by").alias("ay"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("bx").alias("bx2"), F.col("by").alias("by2"), F.col("c").alias("cb")
    )
    conc_cond = ((F.col("ax") < F.col("bx2")) & (F.col("ay") < F.col("by2"))) | (
        (F.col("ax") > F.col("bx2")) & (F.col("ay") > F.col("by2"))
    )
    disc_cond = ((F.col("ax") < F.col("bx2")) & (F.col("ay") > F.col("by2"))) | (
        (F.col("ax") > F.col("bx2")) & (F.col("ay") < F.col("by2"))
    )
    pairs = a.crossJoin(F.broadcast(b)).agg(
        (F.sum(F.when(conc_cond, F.col("ca") * F.col("cb")).otherwise(0)) / 2.0).alias(
            "conc"
        ),
        (F.sum(F.when(disc_cond, F.col("ca") * F.col("cb")).otherwise(0)) / 2.0).alias(
            "disc"
        ),
    )
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    tx = (
        cells.groupBy("bx")
        .agg(F.sum("c").alias("cx"))
        .agg((F.sum(F.col("cx") * (F.col("cx") - 1)) / 2).cast("double").alias("tx"))
    )
    ty = (
        cells.groupBy("by")
        .agg(F.sum("c").alias("cy"))
        .agg((F.sum(F.col("cy") * (F.col("cy") - 1)) / 2).cast("double").alias("ty"))
    )
    half = F.col("n").cast("double") * (F.col("n") - 1) / 2
    return (
        pairs.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").alias("n_rows"),
            F.col("conc").cast("long").alias("concordant"),
            F.col("disc").cast("long").alias("discordant"),
            F.round(
                F.when(
                    (half - F.col("tx") > 0) & (half - F.col("ty") > 0),
                    (F.col("conc") - F.col("disc"))
                    / F.sqrt((half - F.col("tx")) * (half - F.col("ty"))),
                ),
                6,
            ).alias("tau_b"),
        )
    )


# =====================================================================
# Round-5 continuation: language-ID confusion audit and cross-source
# shingle overlap.
# =====================================================================
def _duck_langid_confusion_sql() -> str:
    inner = _duck_langid_sql().strip()
    return f"""
    WITH pred AS MATERIALIZED ({inner}),
    j AS (SELECT d.lang AS actual, p.lang_pred AS predicted
          FROM documents d JOIN pred p ON p.doc_id = d.doc_id),
    cm AS (SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
           FROM j GROUP BY 1, 2),
    acc AS (SELECT sum(CASE WHEN actual = predicted THEN n ELSE 0 END)
                   * 1.0 / sum(n) AS accuracy
            FROM cm)
    SELECT actual, predicted, n,
           round((SELECT accuracy FROM acc), 6) AS overall_accuracy
    FROM cm ORDER BY actual, predicted
    """


@query("langid_confusion_matrix", None)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-heuristic language identifier
    against the documents table's ground-truth lang column, plus
    overall accuracy — the evaluation language_id_docs (predictions
    only) never closes the loop on: which language pairs the n-gram
    heuristic confuses decides whether per-language mixture weights
    (mixture_rebalance_langs, tokenizer_fertility) can trust predicted
    labels at 100 TB where ground truth doesn't exist. One prediction
    pass + one (actual, predicted) rollup."""
    docs = _t(spark, sf_dir, "documents")
    pred = ptx.language_id(docs).select("doc_id", "lang_pred")
    j = docs.select("doc_id", F.col("lang").alias("actual")).join(pred, "doc_id")
    cm = j.groupBy("actual", F.col("lang_pred").alias("predicted")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()
    acc = cm.agg(
        (
            F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("n")).otherwise(0))
            / F.sum("n")
        ).alias("accuracy")
    )
    return (
        cm.crossJoin(F.broadcast(acc))
        .select(
            "actual",
            "predicted",
            "n",
            F.round("accuracy", 6).alias("overall_accuracy"),
        )
        .orderBy("actual", "predicted")
    )


ORACLES["langid_confusion_matrix"] = _duck_langid_confusion_sql()


@query(
    "cross_source_overlap",
    """
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT source,
               md5(unnest([array_to_string(tk[i:i+2], ' ')
                           for i in range(1, greatest(len(tk) - 2, 0) + 1)]))
                   AS sg
        FROM (SELECT source, list_filter(string_split(text, ' '),
                                         t -> t <> '') AS tk
              FROM documents)),
    tot AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh
        GROUP BY source),
    inter AS (
        SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT)
                   AS common
        FROM sh a JOIN sh b ON b.sg = a.sg AND a.source < b.source
        GROUP BY 1, 2),
    jac AS (
        SELECT i.sa, i.sb, i.common,
               round(i.common * 1.0 / (ta.n + tb.n - i.common), 6) AS jaccard
        FROM inter i
        JOIN tot ta ON ta.source = i.sa
        JOIN tot tb ON tb.source = i.sb),
    r AS (SELECT *, row_number() OVER (ORDER BY jaccard DESC, sa, sb)
                        AS rk
          FROM jac)
    SELECT sa AS source_a, sb AS source_b, common AS shared_shingles,
           jaccard
    FROM r WHERE rk <= 10 ORDER BY rk
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap: exact Jaccard of the DISTINCT
    trigram-shingle sets for every source pair, top-10 most
    overlapping — the corpus-mixing diagnostic that catches mirror
    sites / syndicated feeds BEFORE per-document dedup would burn
    compute on them (incremental_dedup_batch answers doc-vs-corpus;
    this answers source-vs-source at the catalog level). The shingle
    self-join keys on the hash — per-shingle fan-out is bounded by
    the source count (<= 20 here), never by corpus size — and the
    pair frame is sources², control-plane sized."""
    docs = _t(spark, sf_dir, "documents")
    sh = (
        docs.select("source", F.explode(pdd.shingles("text", 3)).alias("sg0"))
        .select("source", F.md5("sg0").alias("sg"))
        .dropDuplicates()
        .persist()
    )
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.select(F.col("source").alias("sa"), "sg")
    b = sh.select(F.col("source").alias("sb"), "sg")
    inter = (
        a.join(b, "sg")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    jac = (
        inter.join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
        .select(
            "sa",
            "sb",
            "common",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )
    return (
        jac.select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("jaccard").desc(), "sa", "sb"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 10)
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("common").alias("shared_shingles"),
            "jaccard",
        )
        .orderBy("rk")
    )


# =====================================================================
# Round-5 continuation: negative-binomial fit and decile lift table.
# =====================================================================
@query(
    "negbinom_fit_events",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                 avg(n) AS mu, var_samp(n) AS v
          FROM daily GROUP BY event_type)
    SELECT event_type, n_days,
           round(mu, 6) AS mean_daily,
           round(CASE WHEN v > mu THEN mu * mu / (v - mu) END, 4) AS nb_r,
           round(CASE WHEN v > mu THEN mu / v END, 6) AS nb_p,
           CASE WHEN v > mu THEN 0 ELSE 1 END AS poisson_ok
    FROM m ORDER BY event_type
    """,
)
def negbinom_fit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit for daily event counts
    per type: r = mu^2/(v - mu), p = mu/v — the parametric follow-up
    to overdispersion_event_counts (that query DETECTS var > mean;
    this one hands alerting the actual NB(r, p) noise model to set
    thresholds with, falling back to Poisson when the data is not
    overdispersed). Same one day-keyed rollup; moments per type on
    the days-sized series; NULL parameters when the NB is undefined
    (v <= mu), not a fabricated fit."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg("n").alias("mu"),
        F.var_samp("n").alias("v"),
    )
    over = F.col("v") > F.col("mu")
    return m.select(
        "event_type",
        "n_days",
        F.round("mu", 6).alias("mean_daily"),
        F.round(
            F.when(over, F.col("mu") * F.col("mu") / (F.col("v") - F.col("mu"))),
            4,
        ).alias("nb_r"),
        F.round(F.when(over, F.col("mu") / F.col("v")), 6).alias("nb_p"),
        F.when(over, 0).otherwise(1).alias("poisson_ok"),
    ).orderBy("event_type")


@query(
    "decile_lift_table",
    """
    WITH scored AS (
        SELECT c.c_custkey,
               1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS score,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    ranked AS (
        SELECT y, ntile(10) OVER (ORDER BY score DESC, c_custkey) AS decile
        FROM scored),
    d AS MATERIALIZED (
        SELECT decile, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM ranked GROUP BY decile),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(pos) AS BIGINT) AS pt FROM d),
    c AS (SELECT decile, n, pos,
                 sum(pos) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cpos
          FROM d)
    SELECT decile, n, pos,
           round(pos * 1.0 / n, 6) AS response_rate,
           round((pos * 1.0 / n)
                 / ((SELECT pt FROM tot) * 1.0 / (SELECT nt FROM tot)), 6)
               AS lift,
           round(cpos * 1.0 / (SELECT pt FROM tot), 6) AS cum_capture
    FROM c ORDER BY decile
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic decile lift/gains table for the deterministic scoring
    rule: per score decile the response rate, lift over the base
    rate, and cumulative capture of all positives — the scorecard
    readout between calibration_reliability_bins (is the probability
    right?) and qini_uplift_deciles (is the INCREMENTAL effect
    right?): this one answers 'how deep must I mail to reach X% of
    responders'. Deterministic ntile with custkey tie-break; one
    scored join + one decile rollup; integer cells throughout."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        "c_custkey",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "score"
        ),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    )
    numbered, n_cust = win.global_row_number(
        scored, [F.col("score").desc(), F.col("c_custkey")], out="__rn"
    )
    ranked = numbered.select(
        "y",
        win.exact_ntile(F.col("__rn"), n_cust, 10).alias("decile"),
    )
    d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).persist()
    tot = d.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("pos").cast("long").alias("pt")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select("decile", "n", "pos", F.sum("pos").over(w).alias("cpos"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "pos",
            F.round(F.col("pos") / F.col("n"), 6).alias("response_rate"),
            F.round(
                (F.col("pos") / F.col("n")) / (F.col("pt") / F.col("nt")), 6
            ).alias("lift"),
            F.round(F.col("cpos") / F.col("pt"), 6).alias("cum_capture"),
        )
        .orderBy("decile")
    )


# =====================================================================
# Round-5 continuation: intraclass correlation + design effect, and
# Chapman capture-recapture population estimation.
# =====================================================================
@query(
    "icc_nation_totalprice",
    """
    WITH v AS (
        SELECT c.c_nationkey AS g, o.o_totalprice AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    pg AS MATERIALIZED (
        SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS s,
               sum(x * x) AS ss
        FROM v GROUP BY g),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(n * n) AS sn2
            FROM pg),
    comp AS (
        SELECT (SELECT k FROM tot) AS k, (SELECT nt FROM tot) AS nt,
               sum(n * (s / n - (SELECT st FROM tot) / (SELECT nt FROM tot))
                     * (s / n - (SELECT st FROM tot) / (SELECT nt FROM tot)))
                   / ((SELECT k FROM tot) - 1) AS msb,
               sum(ss - s * s / n)
                   / ((SELECT nt FROM tot) - (SELECT k FROM tot)) AS msw,
               ((SELECT nt FROM tot)
                - (SELECT sn2 FROM tot) * 1.0 / (SELECT nt FROM tot))
                   / ((SELECT k FROM tot) - 1) AS m0
        FROM pg)
    SELECT k AS k_groups, nt AS n_obs,
           round(m0, 6) AS avg_group_size,
           round((msb - msw) / (msb + (m0 - 1) * msw), 6) AS icc,
           round(1 + (m0 - 1) * (msb - msw) / (msb + (m0 - 1) * msw), 6)
               AS design_effect
    FROM comp
    """,
)
def icc_nation_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation of order totals within customer nations
    (one-way random-effects ANOVA estimator, unequal group sizes via
    the m0 correction) and the resulting design effect DEFF = 1 +
    (m0-1)*ICC — the number that says how much a nation-CLUSTERED
    sample inflates variance vs simple random sampling, which
    neyman_allocation_sample and sampled_groupby_ci implicitly assume
    away. Same per-group (n, sum, sumsq) partials as
    anova_price_segments; everything after is 25-row arithmetic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    v = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("g"), F.col("o_totalprice").alias("x")
    )
    pg = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    ).persist()
    tot = pg.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    comp = (
        pg.crossJoin(F.broadcast(tot))
        .groupBy("k", "nt", "st", "sn2")
        .agg(
            (
                F.sum(
                    F.col("n")
                    * (F.col("s") / F.col("n") - F.col("st") / F.col("nt"))
                    * (F.col("s") / F.col("n") - F.col("st") / F.col("nt"))
                )
                / (F.first("k") - 1)
            ).alias("msb"),
            (
                F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.first("nt") - F.first("k"))
            ).alias("msw"),
        )
        .select(
            "k",
            "nt",
            "msb",
            "msw",
            (
                (F.col("nt") - F.col("sn2") / F.col("nt")) / (F.col("k") - 1)
            ).alias("m0"),
        )
    )
    icc = (F.col("msb") - F.col("msw")) / (
        F.col("msb") + (F.col("m0") - 1) * F.col("msw")
    )
    return comp.select(
        F.col("k").alias("k_groups"),
        F.col("nt").alias("n_obs"),
        F.round("m0", 6).alias("avg_group_size"),
        F.round(icc, 6).alias("icc"),
        F.round(1 + (F.col("m0") - 1) * icc, 6).alias("design_effect"),
    )


@query(
    "capture_recapture_users",
    """
    WITH span AS (SELECT min(CAST(ts AS DATE)) AS lo FROM events),
    w1 AS (SELECT DISTINCT user_id FROM events
           WHERE CAST(ts AS DATE) < (SELECT lo FROM span) + 7),
    w2 AS (SELECT DISTINCT user_id FROM events
           WHERE CAST(ts AS DATE) >= (SELECT lo FROM span) + 7
             AND CAST(ts AS DATE) < (SELECT lo FROM span) + 14),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM w1
          WHERE user_id IN (SELECT user_id FROM w2)),
    n AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM w1) AS n1,
                 (SELECT CAST(count(*) AS BIGINT) FROM w2) AS n2,
                 (SELECT m FROM m) AS m,
                 (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                  FROM events) AS actual)
    SELECT n1, n2, m,
           CAST(floor((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0) AS BIGINT)
               AS chapman_estimate,
           actual,
           round((floor((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0) - actual)
                 * 1.0 / actual, 6) AS rel_error
    FROM n
    """,
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the active-user
    population from two one-week observation windows: N̂ =
    (n1+1)(n2+1)/(m+1) - 1 with m = users seen in both — the
    ecology-grade estimator data teams use to size what they CANNOT
    see (total entities when any single window undercounts), with
    the actual distinct count alongside as the machine-checked
    accuracy column (the closed-population assumption's error is the
    finding, not a bug). Two distinct-user window scans + one
    semi-join; all integer arithmetic."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("lo"))
    e = ev.crossJoin(F.broadcast(span)).select(
        "user_id", F.datediff(F.to_date("ts"), F.col("lo")).alias("dd")
    )
    w1 = e.filter(F.col("dd") < 7).select("user_id").dropDuplicates()
    w2 = (
        e.filter((F.col("dd") >= 7) & (F.col("dd") < 14))
        .select("user_id")
        .dropDuplicates()
    )
    m = w1.join(w2, "user_id", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    n1 = w1.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = w2.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    actual = ev.agg(F.countDistinct("user_id").cast("long").alias("actual"))
    chap = F.floor(
        (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0
    ).cast("long")
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(actual))
        .select(
            "n1",
            "n2",
            "m",
            chap.alias("chapman_estimate"),
            "actual",
            F.round((chap - F.col("actual")) / F.col("actual"), 6).alias(
                "rel_error"
            ),
        )
    )


# =====================================================================
# Round-5 continuation: McNemar paired comparison, Cohen's kappa,
# threshold PR/ROC table.
# =====================================================================
@query(
    "mcnemar_model_compare",
    """
    WITH f AS (
        SELECT CASE WHEN 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) > 0.5
                    THEN 1 ELSE 0 END AS m1,
               CASE WHEN c.c_acctbal > 4500.0 THEN 1 ELSE 0 END AS m2,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    d AS (SELECT CAST(sum(CASE WHEN m1 = y AND m2 <> y THEN 1 ELSE 0 END)
                      AS BIGINT) AS b,
                 CAST(sum(CASE WHEN m1 <> y AND m2 = y THEN 1 ELSE 0 END)
                      AS BIGINT) AS c,
                 CAST(count(*) AS BIGINT) AS n
          FROM f)
    SELECT n, b AS only_m1_correct, c AS only_m2_correct,
           round(CASE WHEN b + c > 0
                      THEN (b - c) * (b - c) * 1.0 / (b + c) END, 6)
               AS mcnemar_chi2
    FROM d
    """,
)
def mcnemar_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test comparing two classifiers on the SAME customers
    (the logistic-score rule vs a raw balance threshold, against the
    has-orders label): only the DISCORDANT pairs — cases exactly one
    model gets right — carry information, chi2 = (b-c)^2/(b+c). The
    paired-comparison test that a naive two-accuracy z-test gets
    wrong by ignoring that both models see identical examples. One
    scored join + one count pass."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    f = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        F.when(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))
            > 0.5,
            1,
        )
        .otherwise(0)
        .alias("m1"),
        F.when(F.col("c_acctbal") > 4500.0, 1).otherwise(0).alias("m2"),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    )
    d = f.agg(
        F.sum(
            F.when((F.col("m1") == F.col("y")) & (F.col("m2") != F.col("y")), 1)
            .otherwise(0)
        ).cast("long").alias("b"),
        F.sum(
            F.when((F.col("m1") != F.col("y")) & (F.col("m2") == F.col("y")), 1)
            .otherwise(0)
        ).cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return d.select(
        "n",
        F.col("b").alias("only_m1_correct"),
        F.col("c").alias("only_m2_correct"),
        F.round(
            F.when(
                F.col("b") + F.col("c") > 0,
                (F.col("b") - F.col("c"))
                * (F.col("b") - F.col("c"))
                / (F.col("b") + F.col("c")),
            ),
            6,
        ).alias("mcnemar_chi2"),
    )


def _duck_kappa_sql() -> str:
    inner = _duck_langid_sql().strip()
    return f"""
    WITH pred AS MATERIALIZED ({inner}),
    j AS (SELECT d.lang AS a, p.lang_pred AS b
          FROM documents d JOIN pred p ON p.doc_id = d.doc_id),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
    po AS (SELECT sum(CASE WHEN a = b THEN 1 ELSE 0 END) * 1.0
                  / (SELECT n FROM n) AS po
           FROM j),
    ma AS (SELECT a AS lab, count(*) * 1.0 / (SELECT n FROM n) AS pa
           FROM j GROUP BY a),
    mb AS (SELECT b AS lab, count(*) * 1.0 / (SELECT n FROM n) AS pb
           FROM j GROUP BY b),
    pe AS (SELECT sum(ma.pa * mb.pb) AS pe
           FROM ma JOIN mb ON mb.lab = ma.lab)
    SELECT (SELECT n FROM n) AS n_docs,
           round((SELECT po FROM po), 6) AS observed_agreement,
           round((SELECT pe FROM pe), 6) AS chance_agreement,
           round(((SELECT po FROM po) - (SELECT pe FROM pe))
                 / (1.0 - (SELECT pe FROM pe)), 6) AS kappa
    """


@query("cohens_kappa_langid", None)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the heuristic language identifier and
    ground truth: chance-corrected agreement (raw accuracy flatters
    any classifier when one class dominates — kappa subtracts the
    agreement the marginals alone would produce), summarizing
    langid_confusion_matrix in one calibrated number. One prediction
    pass + marginal-sized arithmetic on exact-integer ratios."""
    docs = _t(spark, sf_dir, "documents")
    pred = ptx.language_id(docs).select("doc_id", "lang_pred")
    j = docs.select("doc_id", F.col("lang").alias("a")).join(pred, "doc_id").select(
        "a", F.col("lang_pred").alias("b")
    ).persist()
    n = j.agg(F.count(F.lit(1)).cast("long").alias("n"))
    po = j.crossJoin(F.broadcast(n)).agg(
        (
            F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)) / F.first("n")
        ).alias("po")
    )
    ma = j.groupBy(F.col("a").alias("lab")).agg(F.count(F.lit(1)).alias("ca"))
    mb = j.groupBy(F.col("b").alias("lab")).agg(F.count(F.lit(1)).alias("cb"))
    pe = (
        ma.join(mb, "lab")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                (F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n"))
            ).alias("pe")
        )
    )
    return (
        n.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe))
        .select(
            F.col("n").alias("n_docs"),
            F.round("po", 6).alias("observed_agreement"),
            F.round("pe", 6).alias("chance_agreement"),
            F.round(
                (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")), 6
            ).alias("kappa"),
        )
    )


ORACLES["cohens_kappa_langid"] = _duck_kappa_sql()


@query(
    "pr_curve_score",
    """
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS score,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    tot AS (SELECT CAST(sum(y) AS BIGINT) AS p,
                   CAST(sum(1 - y) AS BIGINT) AS neg FROM scored),
    th AS (SELECT unnest(range(1, 10)) / 10.0 AS t),
    cells AS (
        SELECT th.t,
               CAST(sum(CASE WHEN score >= th.t AND y = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score >= th.t AND y = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp
        FROM scored CROSS JOIN th GROUP BY th.t)
    SELECT round(t, 1) AS threshold, tp, fp,
           round(CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) END, 6)
               AS precision,
           round(CASE WHEN (SELECT p FROM tot) > 0
                      THEN tp * 1.0 / (SELECT p FROM tot) END, 6) AS recall,
           round(CASE WHEN (SELECT p FROM tot) > 0
                       AND (SELECT neg FROM tot) > 0
                      THEN tp * 1.0 / (SELECT p FROM tot)
                           - fp * 1.0 / (SELECT neg FROM tot) END, 6)
               AS youden_j
    FROM cells ORDER BY threshold
    """,
)
def pr_curve_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/Youden-J at nine thresholds for the scoring
    rule — the operating-characteristic table behind threshold
    selection (max Youden J = the ROC-optimal cut; max F1 readable
    from the precision/recall columns), completing the eval family:
    calibration (is p right), Brier decomposition (why wrong), lift
    (how deep to act), this (where to CUT). One scored pass fanned
    over a broadcast 9-row threshold frame — a single aggregation,
    no per-threshold rescans."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "score"
        ),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
    ).persist()
    tot = scored.agg(
        F.sum("y").cast("long").alias("p"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("t"))
    cells = (
        scored.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("t")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("fp"),
        )
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.round("t", 1).alias("threshold"),
            "tp",
            "fp",
            F.round(
                F.when(
                    F.col("tp") + F.col("fp") > 0,
                    F.col("tp") / (F.col("tp") + F.col("fp")),
                ),
                6,
            ).alias("precision"),
            F.round(
                F.when(F.col("p") > 0, F.col("tp") / F.col("p")), 6
            ).alias("recall"),
            F.round(
                F.when(
                    (F.col("p") > 0) & (F.col("neg") > 0),
                    F.col("tp") / F.col("p") - F.col("fp") / F.col("neg"),
                ),
                6,
            ).alias("youden_j"),
        )
        .orderBy("threshold")
    )


# =====================================================================
# Round-5 continuation: component-size distribution and embedding
# hubness audit.
# =====================================================================
_CC_ROUNDS = 16
_CSD_EDGE_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'csd'"
)


def _duck_csd_sql(rounds: int = _CC_ROUNDS) -> str:
    ctes = [
        f"""s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_CSD_EDGE_SQL} % 10000 < 30
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
        UNION ALL SELECT id, id FROM s),
    l0 AS (SELECT id, id AS lbl FROM s)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
        SELECT sym.src AS id, min(l.lbl) AS lbl
        FROM sym JOIN l{k - 1} l ON l.id = sym.dst GROUP BY sym.src)"""
        )
    body = ",\n    ".join(ctes)
    return f"""WITH {body},
    comp AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz
             FROM l{rounds} GROUP BY lbl),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
    SELECT sz AS component_size,
           CAST(count(*) AS BIGINT) AS n_components,
           round(max(sz) OVER () * 1.0 / (SELECT n FROM n), 6) AS lcc_frac
    FROM comp GROUP BY sz ORDER BY sz
    """


@query("component_size_distribution", None)
def component_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size distribution + largest-component
    fraction on a sparse (0.3%) sampled supplier graph — THE
    percolation readout (is the graph one giant component or dust?),
    the distributional companion of connected_components_cnr's
    per-node labels. Min-label propagation with self-loops so
    isolated nodes keep their own label, unrolled 16 rounds in both
    engines (monotone lattice: rounds past convergence are no-ops —
    16 > the sampled graph's diameter at every tier; the production
    path is the O(log n) large-star/small-star in graph/pagerank.
    connected_components, this device is the oracle-checkable twin)."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 30, "csd")
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .unionByName(sup.select(F.col("id").alias("src"), F.col("id").alias("dst")))
        .persist()
    )
    lbl = sup.select("id", F.col("id").alias("lbl"))
    for _ in range(_CC_ROUNDS):
        lbl = (
            sym.join(
                lbl.select(F.col("id").alias("dst"), "lbl"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
    comp = lbl.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    n = sup.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        comp.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .crossJoin(F.broadcast(comp.agg(F.max("sz").alias("mx"))))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("sz").alias("component_size"),
            "n_components",
            F.round(F.col("mx") / F.col("n"), 6).alias("lcc_frac"),
        )
        .orderBy("component_size")
    )


ORACLES["component_size_distribution"] = _duck_csd_sql()


@query(
    "hubness_audit_embeddings",
    """
    WITH samp AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % 10 = 0),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS qa, b.vec_id AS nb,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM samp a JOIN samp b ON a.vec_id <> b.vec_id),
    topk AS (
        SELECT qa, nb FROM (
            SELECT qa, nb,
                   row_number() OVER (PARTITION BY qa
                                      ORDER BY cos DESC, nb) AS rk
            FROM pairs)
        WHERE rk <= 5),
    nk AS MATERIALIZED (
        SELECT s.vec_id, CAST(coalesce(t.c, 0) AS BIGINT) AS n5
        FROM samp s LEFT JOIN (SELECT nb, count(*) AS c FROM topk
                               GROUP BY nb) t
                 ON t.nb = s.vec_id),
    m AS (SELECT avg(n5) AS mu, stddev_pop(n5) AS sd,
                 CAST(max(n5) AS BIGINT) AS mx,
                 CAST(count(*) AS BIGINT) AS n
          FROM nk)
    SELECT n AS n_vectors, mx AS max_k_occurrence,
           round(mu, 6) AS mean_k_occurrence,
           round(CASE WHEN sd > 0 THEN (mx - mu) / sd END, 4) AS hub_z,
           round((SELECT sum(CASE WHEN n5 = 0 THEN 1 ELSE 0 END) * 1.0
                  FROM nk) / n, 6) AS antihub_frac
    FROM m
    """,
)
def hubness_audit_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space (Radovanović et al.): on a
    deterministic 10% sample, how skewed is N_5 — the count of times
    each vector appears in OTHERS' cosine top-5? High-dimensional
    spaces grow hubs (huge N_k) and antihubs (never retrieved), which
    silently distorts every k-NN consumer (semantic dedup, ANN
    serving, CF) — this is the space-health check those queries
    assume. The pair join is sample², bounded by the hash sample (the
    100 TB path audits per IVF cell); round-before-rank top-5 with
    vec_id tie-breaks."""
    emb = _t(spark, sf_dir, "embeddings")
    samp = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", F.col("embedding").alias("v")
    ).persist()
    a = samp.select(F.col("vec_id").alias("qa"), F.col("v").alias("va"))
    b = samp.select(F.col("vec_id").alias("nb"), F.col("v").alias("vb"))
    pairs = (
        a.join(F.broadcast(b), F.col("qa") != F.col("nb"))
        .select(
            "qa",
            "nb",
            F.round(sim.cosine_similarity(F.col("va"), F.col("vb")), 6).alias(
                "cos"
            ),
        )
    )
    topk = (
        pairs.select(
            "qa",
            "nb",
            F.row_number()
            .over(Window.partitionBy("qa").orderBy(F.col("cos").desc(), "nb"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )
    nk = samp.select("vec_id").join(
        topk.groupBy(F.col("nb").alias("vec_id")).agg(
            F.count(F.lit(1)).alias("c")
        ),
        "vec_id",
        "left",
    ).select(F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n5")).persist()
    m = nk.agg(
        F.avg("n5").alias("mu"),
        F.stddev_pop("n5").alias("sd"),
        F.max("n5").cast("long").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.when(F.col("n5") == 0, 1).otherwise(0)) / F.count(F.lit(1))
        ).alias("ah"),
    )
    return m.select(
        F.col("n").alias("n_vectors"),
        F.col("mx").alias("max_k_occurrence"),
        F.round("mu", 6).alias("mean_k_occurrence"),
        F.round(
            F.when(F.col("sd") > 0, (F.col("mx") - F.col("mu")) / F.col("sd")),
            4,
        ).alias("hub_z"),
        F.round("ah", 6).alias("antihub_frac"),
    )


@query(
    "dau_mau_stickiness",
    """
    WITH d AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS day,
               CAST(extract(year FROM ts) * 12 + extract(month FROM ts)
                    AS BIGINT) AS mon,
               user_id
        FROM events GROUP BY 1, 2, 3),
    dau AS (SELECT mon, day, CAST(count(*) AS BIGINT) AS dau
            FROM d GROUP BY mon, day),
    mau AS (SELECT mon, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
            FROM d GROUP BY mon)
    SELECT dau.mon AS month_index,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(dau.dau), 6) AS avg_dau,
           CAST(min(mau.mau) AS BIGINT) AS mau,
           round(avg(dau.dau) / min(mau.mau), 6) AS stickiness
    FROM dau JOIN mau ON mau.mon = dau.mon
    GROUP BY dau.mon ORDER BY month_index
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement ratio
    every growth dashboard leads with (what fraction of the monthly
    audience shows up on an average day), sitting between
    rolling_7d_active_users (trailing WAU) and retention_cohorts
    (cohort decay). One (day, month, user) dedup rollup is the only
    corpus-sized work; DAU/MAU are months-sized aggregations of it,
    and the ratio is exact-integer arithmetic."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.to_date("ts").alias("day"),
        (F.year("ts") * 12 + F.month("ts")).cast("long").alias("mon"),
        "user_id",
    ).dropDuplicates()
    dau = d.groupBy("mon", "day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    mau = d.groupBy("mon").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), "mon")
        .groupBy(F.col("mon").alias("month_index"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg("dau"), 6).alias("avg_dau"),
            F.min("mau").cast("long").alias("mau"),
            F.round(F.avg("dau") / F.min("mau"), 6).alias("stickiness"),
        )
        .orderBy("month_index")
    )


# =====================================================================
# Round-5 continuation: exact AUC via rank-sum and KS score
# separation — the scorecard-metric completions.
# =====================================================================
@query(
    "auc_exact_score",
    """
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS x,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 2 END AS g
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    n AS (SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n1,
                 CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n2
          FROM scored),
    d AS (SELECT x,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS c1,
                 CAST(count(*) AS BIGINT) AS c
          FROM scored GROUP BY x),
    r AS (SELECT c1, c,
                 coalesce(sum(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cb
          FROM d),
    s AS (SELECT sum(c1 * (cb + (c + 1) / 2.0)) AS r1 FROM r)
    SELECT n1 AS n_pos, n2 AS n_neg,
           round(CASE WHEN n1 > 0 AND n2 > 0
                      THEN (r1 - n1 * (n1 + 1) / 2.0)
                           / (CAST(n1 AS DOUBLE) * n2) END, 6) AS auc,
           round(CASE WHEN n1 > 0 AND n2 > 0
                      THEN 2.0 * (r1 - n1 * (n1 + 1) / 2.0)
                           / (CAST(n1 AS DOUBLE) * n2) - 1.0 END, 6)
               AS gini_coef
    FROM s, n
    """,
)
def auc_exact_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of the scoring rule via the rank-sum identity
    AUC = U1/(n1*n0) with average-rank tie handling (the Wilcoxon
    equivalence — no threshold grid, no trapezoid approximation,
    unlike pr_curve_score's 9-point table), plus the Gini coefficient
    2*AUC-1 credit scoring quotes. This gives the ML family an
    ORACLE-PAIRED exact AUC next to the pytest-pinned MLlib one:
    the same distinct-value rank frame as mann_whitney_u, so the
    ordered window sees distinct scores only — the 100 TB shape."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(2).alias("g"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "x"
        ),
    )
    n = scored.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    d = scored.groupBy("x").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    # bucketed prefix sums (r8: support -> bucketed); exclusive
    # prefix = inclusive - own count
    r1 = st.bucketed_prefix_sums(d, "x", ["c"], n_buckets=32).select(
        "c1",
        "c",
        (F.col("cum_c") - F.col("c")).alias("cb"),
    ).agg(
        F.sum(F.col("c1") * (F.col("cb") + (F.col("c") + 1) / F.lit(2.0))).alias(
            "r1"
        )
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0)
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    auc = u1 / (F.col("n1").cast("double") * F.col("n2"))
    return r1.crossJoin(F.broadcast(n)).select(
        F.col("n1").alias("n_pos"),
        F.col("n2").alias("n_neg"),
        F.round(F.when(ok, auc), 6).alias("auc"),
        F.round(F.when(ok, 2.0 * auc - 1.0), 6).alias("gini_coef"),
    )


@query(
    "ks_score_separation",
    """
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS x,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 2 END AS g
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    n AS (SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM scored),
    d AS (SELECT x,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
          FROM scored GROUP BY x),
    c AS (SELECT x,
                 CAST(sum(c1) OVER w AS DOUBLE) AS a1,
                 CAST(sum(c2) OVER w AS DOUBLE) AS a2
          FROM d WINDOW w AS (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    k AS (SELECT x,
                 abs(a1 / greatest((SELECT n1 FROM n), 1)
                     - a2 / greatest((SELECT n2 FROM n), 1)) AS sep
          FROM c),
    best AS (SELECT x, sep, row_number() OVER (ORDER BY sep DESC, x) AS rk
             FROM k)
    SELECT (SELECT n1 FROM n) AS n_pos, (SELECT n2 FROM n) AS n_neg,
           round(sep, 6) AS ks_stat,
           round(x, 6) AS ks_threshold
    FROM best WHERE rk = 1
    """,
)
def ks_score_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The credit-scoring KS statistic: maximum separation between
    the positive and negative cumulative score distributions, AND the
    score threshold where it occurs — the 'where to cut' answer with
    a distribution-free guarantee (pr_curve_score samples 9 fixed
    thresholds; this finds the exact argmax over all distinct
    scores). Same pooled distinct-value cumulative frame as
    ks_test_price_segments, with an (sep, x) tie-break so both
    engines report the identical threshold."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(2).alias("g"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0)))).alias(
            "x"
        ),
    )
    n = scored.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    d = scored.groupBy("x").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("c2"),
    )
    # bucketed prefix sums (r8: support -> bucketed)
    c = st.bucketed_prefix_sums(d, "x", ["c1", "c2"], n_buckets=32).select(
        "x",
        F.col("cum_c1").cast("double").alias("a1"),
        F.col("cum_c2").cast("double").alias("a2"),
    )
    k = c.crossJoin(F.broadcast(n)).select(
        "x",
        "n1",
        "n2",
        F.abs(
            F.col("a1") / F.greatest(F.col("n1"), F.lit(1))
            - F.col("a2") / F.greatest(F.col("n2"), F.lit(1))
        ).alias("sep"),
    )
    return (
        # argmax via TakeOrderedAndProject, not a rank window (r8 lint)
        k.orderBy(F.col("sep").desc(), "x")
        .limit(1)
        .select(
            F.col("n1").alias("n_pos"),
            F.col("n2").alias("n_neg"),
            F.round("sep", 6).alias("ks_stat"),
            F.round("x", 6).alias("ks_threshold"),
        )
    )


# =====================================================================
# Round-5 continuation: Lorenz curve, HHI concentration, percolation
# robustness under hub removal.
# =====================================================================
@query(
    "lorenz_curve_revenue",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS d
        FROM spend),
    g AS MATERIALIZED (
        SELECT d, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM ranked GROUP BY d),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(s) AS BIGINT) AS st FROM g),
    c AS (SELECT d, n, s,
                 sum(n) OVER w AS cn, sum(s) OVER w AS cs
          FROM g WINDOW w AS (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT d AS decile,
           round(cn * 1.0 / (SELECT nt FROM tot), 6) AS cum_pop_share,
           round(cs * 1.0 / (SELECT st FROM tot), 6) AS cum_revenue_share
    FROM c ORDER BY decile
    """,
)
def lorenz_curve_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer lifetime spend (cumulative revenue
    share vs cumulative population share, poorest decile first) — the
    CURVE whose enclosed area revenue_concentration_gini reports as
    one number: these 10 points are what actually goes on the
    inequality chart and into '80/20' claims. Integer-cents customer
    totals (no rounding boundary), deterministic ntile, one
    custkey rollup + decile-sized cumulative windows."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
    )
    numbered, n_cust = win.global_row_number(
        spend, ["cents", "o_custkey"], out="__rn"
    )
    ranked = numbered.select(
        "cents",
        win.exact_ntile(F.col("__rn"), n_cust, 10).alias("d"),
    )
    g = ranked.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ).persist()
    tot = g.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("s").cast("long").alias("st")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select("d", F.sum("n").over(w).alias("cn"), F.sum("s").over(w).alias("cs"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("decile"),
            F.round(F.col("cn") / F.col("nt"), 6).alias("cum_pop_share"),
            F.round(F.col("cs") / F.col("st"), 6).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )


@query(
    "hhi_market_concentration",
    """
    WITH r AS (
        SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
               sum(o.o_totalprice) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2),
    t AS (SELECT region, sum(rev) AS trev,
                 CAST(count(*) AS BIGINT) AS n_nations
          FROM r GROUP BY region)
    SELECT r.region, t.n_nations,
           round(sum((r.rev / t.trev) * (r.rev / t.trev)) * 10000, 2)
               AS hhi,
           CASE WHEN sum((r.rev / t.trev) * (r.rev / t.trev)) * 10000
                     > 2500 THEN 1 ELSE 0 END AS concentrated
    FROM r JOIN t ON t.region = r.region
    GROUP BY r.region, t.n_nations
    ORDER BY r.region
    """,
)
def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of revenue concentration among
    nations within each region (shares squared, x10000, DOJ's 2500
    'highly concentrated' line) — the antitrust-grade concentration
    number next to revenue_concentration_gini (Gini measures
    inequality of the whole distribution; HHI weights the TOP, which
    is what market-power questions ask). One three-way join rollup;
    shares are region-sized arithmetic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
        .persist()
    )
    t = r.groupBy("region").agg(
        F.sum("rev").alias("trev"), F.count(F.lit(1)).cast("long").alias("n_nations")
    )
    share2 = (F.col("rev") / F.col("trev")) * (F.col("rev") / F.col("trev"))
    hhi = F.sum(share2) * 10000
    return (
        r.join(F.broadcast(t), "region")
        .groupBy("region", "n_nations")
        .agg(
            F.round(hhi, 2).alias("hhi"),
            F.when(hhi > 2500, 1).otherwise(0).alias("concentrated"),
        )
        .orderBy("region")
    )


_PERC_EDGE_SQL = _DUCK_H60.format(
    args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'perc'"
)
_PERC_FRACS = (0, 10, 20)  # percent of top-degree nodes removed


def _duck_percolation_sql(rounds: int = _CC_ROUNDS) -> str:
    ctes = [
        f"""s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e0 AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {_PERC_EDGE_SQL} % 10000 < 60
    ),
    deg AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)
        GROUP BY id),
    dr AS MATERIALIZED (
        SELECT s.id, coalesce(deg.d, 0) AS d,
               row_number() OVER (ORDER BY coalesce(deg.d, 0) DESC, s.id)
                   AS rk,
               count(*) OVER () AS n
        FROM s LEFT JOIN deg ON deg.id = s.id)"""
    ]
    selects = []
    for f in _PERC_FRACS:
        ctes.append(
            f"""keep{f} AS MATERIALIZED (
        SELECT id FROM dr WHERE rk > CAST(floor(n * {f} / 100.0) AS BIGINT))"""
        )
        ctes.append(
            f"""sym{f} AS MATERIALIZED (
        SELECT e0.src, e0.dst FROM e0
        JOIN keep{f} ka ON ka.id = e0.src JOIN keep{f} kb ON kb.id = e0.dst
        UNION ALL
        SELECT e0.dst, e0.src FROM e0
        JOIN keep{f} ka ON ka.id = e0.src JOIN keep{f} kb ON kb.id = e0.dst
        UNION ALL SELECT id, id FROM keep{f})"""
        )
        ctes.append(f"p{f}l0 AS (SELECT id, id AS lbl FROM keep{f})")
        for k in range(1, rounds + 1):
            ctes.append(
                f"""p{f}l{k} AS MATERIALIZED (
        SELECT sym{f}.src AS id, min(l.lbl) AS lbl
        FROM sym{f} JOIN p{f}l{k - 1} l ON l.id = sym{f}.dst
        GROUP BY sym{f}.src)"""
            )
        selects.append(
            f"""SELECT {f} / 100.0 AS removal_frac,
               (SELECT CAST(count(*) AS BIGINT) FROM keep{f}) AS n_remaining,
               (SELECT CAST(max(c) AS BIGINT) FROM (
                    SELECT count(*) AS c FROM p{f}l{rounds} GROUP BY lbl))
                   AS lcc_size,
               round((SELECT max(c) FROM (
                    SELECT count(*) AS c FROM p{f}l{rounds} GROUP BY lbl))
                     * 1.0
                     / (SELECT count(*) FROM keep{f}), 6) AS lcc_frac"""
        )
    body = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(selects)
    return f"""WITH {body}
    SELECT * FROM ({union}) ORDER BY removal_frac
    """


@query("percolation_hub_removal", None)
def percolation_hub_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation robustness curve: remove the top 0/10/20% of nodes
    by degree (deterministic (degree, id) rank) from the sparse
    sampled supplier graph and track the largest connected
    component's share of surviving nodes — the scale-free-network
    fragility experiment (Albert-Barabási attack tolerance): a graph
    that shrugs off RANDOM failure shatters under targeted hub
    removal, which is what capacity/resilience planning needs to
    know. Each induced subgraph's CC uses the same 16-round unrolled
    min-label device as component_size_distribution (monotone — extra
    rounds are no-ops); degrees are one aggregation; everything
    iterates on the sampled-nodes-sized frame. r7: all three removal
    fractions ride ONE frac-tagged label frame through a single
    16-round loop — 16 checkpointed jobs instead of 3 x 16 (labels
    can't cross fractions: every join/group keys on (frac, node))."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e0 = tg.sampled_edges(sup, 60, "perc").persist()
    deg = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dd = sup.join(deg, "id", "left").select(
        "id", F.coalesce(F.col("d"), F.lit(0)).alias("d")
    )
    # hub rank via the range-partitioned numbering device — the node
    # frame grows with the corpus, so no global window (r8 lint)
    ranked, n_nodes = win.global_row_number(
        dd, [F.col("d").desc(), F.col("id")], out="rk"
    )
    dr = ranked.select("id", "rk", F.lit(n_nodes).cast("long").alias("n")).persist()
    keeps = None
    for f in _PERC_FRACS:
        k = dr.filter(
            F.col("rk") > F.floor(F.col("n") * f / 100.0).cast("long")
        ).select(F.lit(f).cast("int").alias("frac"), "id")
        keeps = k if keeps is None else keeps.unionByName(k)
    keeps = keeps.persist()
    ek = (
        e0.join(
            keeps.select("frac", F.col("id").alias("src")), "src"
        ).join(keeps.select("frac", F.col("id").alias("dst")), ["frac", "dst"])
    )
    sym = (
        ek.select("frac", "src", "dst")
        .unionByName(
            ek.select(
                "frac", F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .unionByName(
            keeps.select(
                "frac", F.col("id").alias("src"), F.col("id").alias("dst")
            )
        )
        .persist()
    )
    lbl = keeps.select("frac", "id", F.col("id").alias("lbl"))
    for _ in range(_CC_ROUNDS):
        lbl = (
            sym.join(
                lbl.select("frac", F.col("id").alias("dst"), "lbl"),
                ["frac", "dst"],
            )
            .groupBy("frac", F.col("src").alias("id"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
    lcc = (
        lbl.groupBy("frac", "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("frac")
        .agg(F.max("c").cast("long").alias("lcc_size"))
    )
    nk = keeps.groupBy("frac").agg(
        F.count(F.lit(1)).cast("long").alias("n_remaining")
    )
    return (
        nk.join(F.broadcast(lcc), "frac")
        .select(
            (F.col("frac") / 100.0).alias("removal_frac"),
            "n_remaining",
            "lcc_size",
            F.round(F.col("lcc_size") / F.col("n_remaining"), 6).alias(
                "lcc_frac"
            ),
        )
        .orderBy("removal_frac")
    )


ORACLES["percolation_hub_removal"] = _duck_percolation_sql()


@query(
    "embedding_isotropy_audit",
    """
    WITH samp AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % 10 = 0),
    norms AS (SELECT avg(sqrt(list_dot_product(v, v))) AS mean_norm
              FROM samp),
    mvec AS (
        SELECT dim, avg(x) AS m FROM (
            SELECT CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
                   unnest(v) AS x
            FROM samp)
        GROUP BY dim),
    mnorm AS (SELECT sqrt(sum(m * m)) AS mu_norm FROM mvec),
    pc AS (
        SELECT avg(round(list_cosine_similarity(a.v, b.v), 6)) AS mean_cos,
               stddev_samp(round(list_cosine_similarity(a.v, b.v), 6))
                   AS sd_cos
        FROM samp a JOIN samp b ON a.vec_id < b.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_vectors,
           round((SELECT mean_cos FROM pc), 6) AS mean_pairwise_cosine,
           round((SELECT sd_cos FROM pc), 6) AS sd_pairwise_cosine,
           round((SELECT mu_norm FROM mnorm)
                 / (SELECT mean_norm FROM norms), 6) AS anisotropy_ratio
    """,
)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space on the deterministic 10%
    sample: mean pairwise cosine (0 for an isotropic cloud; the
    'narrow cone' pathology of transformer embeddings pushes it
    toward 1, Ethayarajh 2019) and the anisotropy ratio ||mean
    vector|| / mean ||vector|| (0 = centered, 1 = everything points
    one way) — the space-health prerequisite for every cosine
    consumer (semantic dedup thresholds, IVF cells, hubness all
    degrade in anisotropic spaces; the standard fix is mean-centering,
    and this measures whether it's needed). One dimension rollup +
    one sample² pair pass, both bounded by the hash sample."""
    emb = _t(spark, sf_dir, "embeddings")
    samp = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", F.col("embedding").alias("v")
    ).persist()
    norms = samp.agg(F.avg(sim.l2_norm(F.col("v"))).alias("mean_norm"))
    mvec = (
        samp.select(F.posexplode("v").alias("d0", "x"))
        .groupBy((F.col("d0") + 1).cast("long").alias("dim"))
        .agg(F.avg("x").alias("m"))
    )
    mnorm = mvec.agg(F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("mu_norm"))
    a = samp.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = samp.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pc = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(
            F.round(sim.cosine_similarity(F.col("va"), F.col("vb")), 6).alias(
                "cos"
            )
        )
        .agg(
            F.avg("cos").alias("mean_cos"),
            F.stddev_samp("cos").alias("sd_cos"),
        )
    )
    n = samp.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    return (
        n.crossJoin(F.broadcast(pc))
        .crossJoin(F.broadcast(mnorm))
        .crossJoin(F.broadcast(norms))
        .select(
            "n_vectors",
            F.round("mean_cos", 6).alias("mean_pairwise_cosine"),
            F.round("sd_cos", 6).alias("sd_pairwise_cosine"),
            F.round(F.col("mu_norm") / F.col("mean_norm"), 6).alias(
                "anisotropy_ratio"
            ),
        )
    )


# =====================================================================
# Round-5 continuation: extreme-value (Gumbel) fit of daily peaks and
# shipping-delay percentiles by mode.
# =====================================================================
@query(
    "extreme_value_daily_peaks",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
    blocks AS MATERIALIZED (
        SELECT CAST(extract(year FROM day) * 12 + extract(month FROM day)
                    AS BIGINT) AS mon,
               CAST(max(n) AS BIGINT) AS mx
        FROM daily GROUP BY 1),
    m AS (SELECT CAST(count(*) AS BIGINT) AS k, avg(mx) AS mu_s,
                 stddev_samp(mx) AS sd
          FROM blocks),
    fit AS (SELECT k,
                   sd * sqrt(6.0) / pi() AS beta,
                   mu_s - 0.5772156649 * sd * sqrt(6.0) / pi() AS mu
            FROM m)
    SELECT k AS n_blocks,
           round(mu, 4) AS gumbel_mu,
           round(beta, 4) AS gumbel_beta,
           round(mu - beta * ln(-ln(1.0 - 1.0 / 12.0)), 4)
               AS return_level_12mo
    FROM fit
    """,
)
def extreme_value_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of traffic peaks: Gumbel fit (method of
    moments: beta = sd*sqrt(6)/pi, mu = mean - gamma*beta) to MONTHLY
    block maxima of daily event counts, plus the 12-month return
    level mu - beta*ln(-ln(1-1/12)) — the 'how big a day must we
    provision for' number that percentiles of ordinary days
    structurally underestimate (EVT is the right tool for maxima,
    not the bulk). One day rollup -> months-sized block maxima ->
    1-row closed-form fit."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    blocks = daily.groupBy(
        (F.year("day") * 12 + F.month("day")).cast("long").alias("mon")
    ).agg(F.max("n").cast("long").alias("mx"))
    m = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.avg("mx").alias("mu_s"),
        F.stddev_samp("mx").alias("sd"),
    )
    import math as _math

    beta = F.col("sd") * _math.sqrt(6.0) / _math.pi
    mu = F.col("mu_s") - 0.5772156649 * beta
    return m.select(
        F.col("k").alias("n_blocks"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(
            mu - beta * F.lit(_math.log(-_math.log(1.0 - 1.0 / 12.0))), 4
        ).alias("return_level_12mo"),
    )


@query(
    "order_to_ship_latency",
    """
    WITH d AS MATERIALIZED (
        SELECT o.o_orderpriority AS pri,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS delay
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    g AS MATERIALIZED (
        SELECT pri, delay, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY pri, delay),
    tot AS (SELECT pri, CAST(sum(c) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN delay > 90 THEN c ELSE 0 END)
                        AS BIGINT) AS n_slow
            FROM g GROUP BY pri),
    cum AS (SELECT pri, delay, c,
                   sum(c) OVER (PARTITION BY pri ORDER BY delay) AS cc
            FROM g)
    SELECT t.pri AS priority, t.n,
           round(t.n_slow * 1.0 / t.n, 6) AS slow_frac,
           (SELECT min(delay) FROM cum
            WHERE cum.pri = t.pri AND cc >= ceil(0.5 * t.n)) AS p50_days,
           (SELECT min(delay) FROM cum
            WHERE cum.pri = t.pri AND cc >= ceil(0.95 * t.n)) AS p95_days
    FROM tot t ORDER BY priority
    """,
)
def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority: the fraction
    shipping slower than 90 days and EXACT p50/p95 latency — the
    fulfillment SLA scorecard (does URGENT actually ship faster, and
    what does the tail look like?), the supply-chain sibling of
    conversion_latency_stats. Exact order statistics via the
    per-priority distinct-delay cumulative frame ('min delay whose
    cumulative count reaches ceil(q*n)') — no percentile_approx, no
    global sort; integer day arithmetic so both engines agree
    exactly."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay"
        ),
    )
    g = d.groupBy("pri", "delay").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    tot = g.groupBy("pri").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("delay") > 90, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_slow"),
    )
    w = Window.partitionBy("pri").orderBy("delay").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select("pri", "delay", F.sum("c").over(w).alias("cc")).join(
        F.broadcast(tot), "pri"
    )
    p50 = (
        cum.filter(F.col("cc") >= F.ceil(0.5 * F.col("n")))
        .groupBy("pri")
        .agg(F.min("delay").alias("p50_days"))
    )
    p95 = (
        cum.filter(F.col("cc") >= F.ceil(0.95 * F.col("n")))
        .groupBy("pri")
        .agg(F.min("delay").alias("p95_days"))
    )
    return (
        tot.join(p50, "pri")
        .join(p95, "pri")
        .select(
            F.col("pri").alias("priority"),
            "n",
            F.round(F.col("n_slow") / F.col("n"), 6).alias("slow_frac"),
            "p50_days",
            "p95_days",
        )
        .orderBy("priority")
    )


@query(
    "growth_accounting_monthly",
    """
    WITH cm AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS cust,
               CAST(extract(year FROM o_orderdate) * 12
                    + extract(month FROM o_orderdate) AS BIGINT) AS mon
        FROM orders),
    fm AS MATERIALIZED (
        SELECT cust, CAST(min(mon) AS BIGINT) AS first_mon FROM cm
        GROUP BY cust),
    cur AS (
        SELECT cm.mon, cm.cust, fm.first_mon,
               CASE WHEN p.cust IS NOT NULL THEN 1 ELSE 0 END AS prev_active
        FROM cm JOIN fm ON fm.cust = cm.cust
        LEFT JOIN cm p ON p.cust = cm.cust AND p.mon = cm.mon - 1),
    act AS (
        SELECT mon,
               CAST(sum(CASE WHEN first_mon = mon THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_,
               CAST(sum(CASE WHEN first_mon < mon AND prev_active = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(sum(CASE WHEN first_mon < mon AND prev_active = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM cur GROUP BY mon),
    chn AS (
        SELECT a.mon + 1 AS mon, CAST(count(*) AS BIGINT) AS churned
        FROM cm a LEFT JOIN cm b ON b.cust = a.cust AND b.mon = a.mon + 1
        WHERE b.cust IS NULL GROUP BY a.mon + 1)
    SELECT act.mon AS month_index, act.new_ AS new_customers,
           act.retained, act.resurrected,
           CAST(coalesce(chn.churned, 0) AS BIGINT) AS churned_from_prev
    FROM act LEFT JOIN chn ON chn.mon = act.mon
    ORDER BY month_index
    """,
)
def growth_accounting_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting of active buyers — the canonical
    new / retained / resurrected / churned decomposition (the
    'quick ratio' inputs) that explains WHY a topline MAU moved,
    where dau_mau_stickiness and retention_cohorts each see only one
    axis. A customer is new in their first order month, retained if
    also active the prior month, resurrected if returning after a
    gap; churned counts prior-month actives who lapsed. One distinct
    (customer, month) rollup + a month-1 self-join (months-sized
    keys, customer-partitioned) — all exact integers."""
    o = _t(spark, sf_dir, "orders")
    cm = o.select(
        F.col("o_custkey").alias("cust"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mon"),
    ).dropDuplicates().persist()
    fm = cm.groupBy("cust").agg(F.min("mon").cast("long").alias("first_mon"))
    prev = cm.select("cust", (F.col("mon") + 1).alias("mon"), F.lit(1).alias("pa"))
    cur = (
        cm.join(fm, "cust")
        .join(prev, ["cust", "mon"], "left")
        .select(
            "mon",
            "first_mon",
            F.coalesce(F.col("pa"), F.lit(0)).alias("prev_active"),
        )
    )
    act = cur.groupBy("mon").agg(
        F.sum(F.when(F.col("first_mon") == F.col("mon"), 1).otherwise(0))
        .cast("long")
        .alias("new_customers"),
        F.sum(
            F.when(
                (F.col("first_mon") < F.col("mon")) & (F.col("prev_active") == 1),
                1,
            ).otherwise(0)
        ).cast("long").alias("retained"),
        F.sum(
            F.when(
                (F.col("first_mon") < F.col("mon")) & (F.col("prev_active") == 0),
                1,
            ).otherwise(0)
        ).cast("long").alias("resurrected"),
    )
    # "active next month" probe: (cust, mon) present here iff the
    # customer is active at mon+1; anti-join finds lapsing actives
    will_be_active = cm.select("cust", (F.col("mon") - 1).alias("mon"))
    chn = (
        cm.join(will_be_active, ["cust", "mon"], "left_anti")
        .groupBy((F.col("mon") + 1).alias("mon"))
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    return (
        act.join(chn, "mon", "left")
        .select(
            F.col("mon").alias("month_index"),
            "new_customers",
            "retained",
            "resurrected",
            F.coalesce(F.col("churned"), F.lit(0))
            .cast("long")
            .alias("churned_from_prev"),
        )
        .orderBy("month_index")
    )


# =====================================================================
# Round-5 continuation: PPS systematic sampling, weekly spectral
# power, session-gap threshold sensitivity.
# =====================================================================
_PPS_K = 20


@query(
    "pps_systematic_sample",
    f"""
    WITH spend AS MATERIALIZED (
        SELECT o_custkey,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS w
        FROM orders GROUP BY o_custkey),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM spend),
    cum AS MATERIALIZED (
        SELECT o_custkey, w,
               CAST(sum(w) OVER (ORDER BY o_custkey) AS BIGINT) AS cw
        FROM spend),
    pts AS (SELECT CAST(unnest(range(0, {_PPS_K})) AS BIGINT) AS k),
    sel AS (
        SELECT pts.k,
               (SELECT min(o_custkey) FROM cum
                WHERE cw * {_PPS_K} * 2 >= (2 * pts.k + 1) * (SELECT tw FROM tot))
                   AS o_custkey
        FROM pts)
    SELECT sel.k, sel.o_custkey,
           round(cum.w / 100.0, 2) AS spend,
           round(least(cum.w * {_PPS_K} * 1.0 / (SELECT tw FROM tot), 1.0), 6)
               AS inclusion_prob
    FROM sel JOIN cum ON cum.o_custkey = sel.o_custkey
    ORDER BY sel.k
    """,
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sample of 20
    customers by lifetime spend: selection points at (k+1/2)·W/20 on
    the customer-ordered cumulative-weight axis, each resolved as
    'first customer whose cumulative weight crosses the point' — the
    unequal-probability design behind audit sampling and
    Horvitz-Thompson estimation (join_size_estimate's scale-up
    assumes exactly these inclusion probabilities), deterministic
    with zero RNG. Integer-cents weights; the crossing rule is
    integer-exact (2x-scaled comparison avoids fractional points);
    one custkey rollup + a cumulative window over the customers
    frame."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("w")
    )
    tot = spend.agg(F.sum("w").cast("long").alias("tw"))
    # cumulative weight axis via the bucketed device — the customer
    # frame grows with the corpus, so no global window (r8 lint)
    cum = (
        st.bucketed_prefix_sums(spend, "o_custkey", ["w"], n_buckets=32)
        .select("o_custkey", "w", F.col("cum_w").cast("long").alias("cw"))
        .crossJoin(F.broadcast(tot))
        .persist()
    )
    pts = spark.range(_PPS_K).select(F.col("id").alias("k"))
    sel = (
        pts.crossJoin(cum)
        .filter(
            F.col("cw") * _PPS_K * 2 >= (2 * F.col("k") + 1) * F.col("tw")
        )
        .groupBy("k")
        .agg(F.min("o_custkey").alias("o_custkey"))
    )
    return (
        sel.join(cum, "o_custkey")
        .select(
            "k",
            "o_custkey",
            F.round(F.col("w") / 100.0, 2).alias("spend"),
            F.round(
                F.least(F.col("w") * _PPS_K / F.col("tw"), F.lit(1.0)), 6
            ).alias("inclusion_prob"),
        )
        .orderBy("k")
    )


@query(
    "spectral_power_weekly",
    """
    WITH x AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    ix AS MATERIALIZED (
        SELECT n, CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t
        FROM x),
    mu AS (SELECT avg(n) AS mu, CAST(count(*) AS BIGINT) AS len FROM ix),
    ps AS (SELECT CAST(unnest([5, 7, 11]) AS BIGINT) AS period),
    p AS (
        SELECT ps.period,
               pow(sum((ix.n - (SELECT mu FROM mu))
                       * cos(2 * pi() * ix.t / ps.period)), 2)
               + pow(sum((ix.n - (SELECT mu FROM mu))
                         * sin(2 * pi() * ix.t / ps.period)), 2) AS pw
        FROM ix JOIN ps ON true GROUP BY ps.period)
    SELECT period, round(pw / (SELECT len FROM mu), 4) AS power,
           round(pw / max(CASE WHEN period <> 7 THEN pw END) OVER (), 4)
               AS ratio_vs_offpeak
    FROM p ORDER BY period
    """,
)
def spectral_power_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency spectral power (Goertzel-style DFT bins) of
    the demeaned daily event series at periods 5, 7, and 11 days:
    |sum x_t e^{-2pi i t/P}|^2 / N — the frequency-domain
    periodicity detector complementing acf_daily_events (time
    domain): a weekly rhythm shows period-7 power dominating the
    off-peak probes (the ratio column), and it needs only ONE pass
    over the days-sized series per probe period, not a full FFT.
    Deterministic trig over exact integer positions."""
    import math as _math

    ev = _t(spark, sf_dir, "events")
    x = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ix = x.select(
        "n",
        (F.row_number().over(Window.orderBy("day")) - 1).cast("long").alias("t"),
    )
    mu = ix.agg(F.avg("n").alias("mu"), F.count(F.lit(1)).cast("long").alias("len"))
    ps = (
        spark.range(1)
        .select(F.explode(F.array(F.lit(5), F.lit(7), F.lit(11))).alias("p0"))
        .select(F.col("p0").cast("long").alias("period"))
    )
    ang = 2 * _math.pi * F.col("t") / F.col("period")
    p = (
        ix.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(ps))
        .groupBy("period")
        .agg(
            (
                F.pow(F.sum((F.col("n") - F.col("mu")) * F.cos(ang)), 2)
                + F.pow(F.sum((F.col("n") - F.col("mu")) * F.sin(ang)), 2)
            ).alias("pw"),
            F.first("len").alias("len"),
        )
    )
    wall = Window.partitionBy()
    return p.select(
        "period",
        F.round(F.col("pw") / F.col("len"), 4).alias("power"),
        F.round(
            F.col("pw")
            / F.max(F.when(F.col("period") != 7, F.col("pw"))).over(wall),
            4,
        ).alias("ratio_vs_offpeak"),
    ).orderBy("period")


@query(
    "session_threshold_sensitivity",
    """
    WITH seq AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0
                   AS gap
        FROM events),
    th AS (SELECT unnest([900, 1800, 3600]) AS thresh),
    c AS (
        SELECT th.thresh,
               CAST(sum(CASE WHEN seq.gap IS NULL
                              OR seq.gap > th.thresh
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM seq CROSS JOIN th GROUP BY th.thresh)
    SELECT CAST(thresh AS BIGINT) AS gap_seconds, n_sessions,
           round(n_events * 1.0 / n_sessions, 6) AS events_per_session
    FROM c ORDER BY gap_seconds
    """,
)
def session_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity of the session count to the inactivity-gap
    threshold (15/30/60 minutes): a session starts where the
    preceding same-user gap exceeds the threshold (or at the first
    event), so session counts come from ONE lag pass fanned over a
    broadcast 3-row threshold frame — the calibration evidence for
    sessionize_events' 30-minute default (a cliff between thresholds
    means the choice matters; a plateau means it doesn't).
    Session-TZ-proof epoch_us gaps; exact integer counts."""
    from social_link_prediction_spark.operators.windows import epoch_us

    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        (
            (
                epoch_us(F.col("ts"))
                - epoch_us(
                    F.lag("ts").over(
                        Window.partitionBy("user_id").orderBy("ts", "event_id")
                    )
                )
            )
            / 1_000_000.0
        ).alias("gap"),
    )
    th = (
        spark.range(1)
        .select(
            F.explode(F.array(F.lit(900), F.lit(1800), F.lit(3600))).alias("t0")
        )
        .select(F.col("t0").cast("long").alias("thresh"))
    )
    c = (
        seq.crossJoin(F.broadcast(th))
        .groupBy("thresh")
        .agg(
            F.sum(
                F.when(
                    F.col("gap").isNull() | (F.col("gap") > F.col("thresh")), 1
                ).otherwise(0)
            ).cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return c.select(
        F.col("thresh").alias("gap_seconds"),
        "n_sessions",
        F.round(F.col("n_events") / F.col("n_sessions"), 6).alias(
            "events_per_session"
        ),
    ).orderBy("gap_seconds")


@query(
    "revenue_decomposition_mom",
    """
    WITH m AS MATERIALIZED (
        SELECT CAST(extract(year FROM o_orderdate) * 12
                    + extract(month FROM o_orderdate) AS BIGINT) AS mon,
               CAST(count(*) AS BIGINT) AS n, sum(o_totalprice) AS rev
        FROM orders GROUP BY 1),
    lastm AS (SELECT CAST(max(mon) AS BIGINT) AS mx FROM m),
    two AS (
        SELECT CASE WHEN mon = (SELECT mx FROM lastm) THEN 'cur'
                    ELSE 'prev' END AS which, n, rev
        FROM m WHERE mon >= (SELECT mx FROM lastm) - 1),
    w AS (SELECT max(CASE WHEN which = 'prev' THEN n END) AS n0,
                 max(CASE WHEN which = 'prev' THEN rev END) AS r0,
                 max(CASE WHEN which = 'cur' THEN n END) AS n1,
                 max(CASE WHEN which = 'cur' THEN rev END) AS r1
          FROM two)
    SELECT CAST(n0 AS BIGINT) AS orders_prev, CAST(n1 AS BIGINT) AS orders_cur,
           round(r1 - r0, 2) AS delta_revenue,
           round((n1 - n0) * (r0 / n0), 2) AS volume_effect,
           round(n1 * (r1 / n1 - r0 / n0), 2) AS value_effect,
           CAST(abs((n1 - n0) * (r0 / n0) + n1 * (r1 / n1 - r0 / n0)
                    - (r1 - r0)) < greatest(1e-6, 1e-9 * abs(r0))
                AS BIGINT) AS decomposition_exact
    FROM w
    """,
)
def revenue_decomposition_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue-change decomposition (Laspeyres-style):
    delta revenue = volume effect (order-count change at the PRIOR
    average value) + value effect (average-order-value change at
    CURRENT volume) — the 'why did revenue move' explainer every
    finance review wants, exact by construction (decomposition_exact
    machine-checks the identity as an integer relative-tolerance gate
    — the raw residual is ~±ulp(rev) with a summation-order-dependent
    SIGN, the -0.0/0.0 hash-flip class the r8 brier row exposed). One monthly rollup; the
    decomposition is 1-row arithmetic over the last two months."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mon")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_totalprice").alias("rev"),
    ).persist()
    lastm = m.agg(F.max("mon").cast("long").alias("mx"))
    w = (
        m.crossJoin(F.broadcast(lastm))
        .filter(F.col("mon") >= F.col("mx") - 1)
        .agg(
            F.max(F.when(F.col("mon") == F.col("mx") - 1, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("mon") == F.col("mx") - 1, F.col("rev"))).alias(
                "r0"
            ),
            F.max(F.when(F.col("mon") == F.col("mx"), F.col("n"))).alias("n1"),
            F.max(F.when(F.col("mon") == F.col("mx"), F.col("rev"))).alias("r1"),
        )
    )
    vol = (F.col("n1") - F.col("n0")) * (F.col("r0") / F.col("n0"))
    val = F.col("n1") * (F.col("r1") / F.col("n1") - F.col("r0") / F.col("n0"))
    return w.select(
        F.col("n0").cast("long").alias("orders_prev"),
        F.col("n1").cast("long").alias("orders_cur"),
        F.round(F.col("r1") - F.col("r0"), 2).alias("delta_revenue"),
        F.round(vol, 2).alias("volume_effect"),
        F.round(val, 2).alias("value_effect"),
        (
            F.abs(vol + val - (F.col("r1") - F.col("r0")))
            < F.greatest(F.lit(1e-6), F.lit(1e-9) * F.abs(F.col("r0")))
        )
        .cast("long")
        .alias("decomposition_exact"),
    )


@query(
    "abc_xyz_classification",
    """
    WITH pm AS MATERIALIZED (
        SELECT l_partkey AS part,
               CAST(extract(year FROM l_shipdate) * 12
                    + extract(month FROM l_shipdate) AS BIGINT) AS mon,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2),
    p AS MATERIALIZED (
        SELECT part, CAST(sum(cents) AS BIGINT) AS rev,
               avg(qty) AS mq, coalesce(stddev_samp(qty), 0.0) AS sq,
               CAST(count(*) AS BIGINT) AS n_months
        FROM pm GROUP BY part),
    tot AS (SELECT CAST(sum(rev) AS BIGINT) AS trev FROM p),
    r AS (SELECT part, rev, mq, sq, n_months,
                 sum(rev) OVER (ORDER BY rev DESC, part) AS crev
          FROM p),
    cls AS (
        SELECT CASE WHEN crev * 100 <= (SELECT trev FROM tot) * 80 THEN 'A'
                    WHEN crev * 100 <= (SELECT trev FROM tot) * 95 THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN n_months < 2 OR mq = 0 THEN 'Z'
                    WHEN sq / mq < 0.5 THEN 'X'
                    WHEN sq / mq < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz,
               rev
        FROM r)
    SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(rev) / 100.0, 2) AS revenue
    FROM cls GROUP BY abc, xyz ORDER BY abc, xyz
    """,
)
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification grid: parts ranked by revenue
    into A (first 80% of cumulative revenue) / B (to 95%) / C, crossed
    with demand-variability classes X (monthly-quantity CV < 0.5) /
    Y (< 1.0) / Z (erratic or too little history) — the ops-planning
    matrix that decides stocking policy per cell (A-X: automate;
    C-Z: make-to-order). Integer-cents revenue makes the cumulative
    80/95% cuts exact (compared as integer cross-products, no float
    threshold); one (part, month) rollup then part-sized windows."""
    li = _t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("mon"),
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).cast("long").alias("cents"),
        F.sum("l_quantity").cast("long").alias("qty"),
    )
    p = pm.groupBy("part").agg(
        F.sum("cents").cast("long").alias("rev"),
        F.avg("qty").alias("mq"),
        F.coalesce(F.stddev_samp("qty"), F.lit(0.0)).alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
    ).persist()
    tot = p.agg(F.sum("rev").cast("long").alias("trev"))
    # cumulative revenue over the part-dimension frame (grows with
    # the corpus): range-partitioned numbering gives the (rev desc,
    # part) order as a unique integer axis, bucketed prefix sums give
    # the running total — no global window (r8 lint)
    numbered, _n = win.global_row_number(
        p, [F.col("rev").desc(), F.col("part")], out="__rn"
    )
    r = (
        st.bucketed_prefix_sums(numbered, "__rn", ["rev"], n_buckets=32)
        .select(
            "part", "rev", "mq", "sq", "n_months",
            F.col("cum_rev").alias("crev"),
        )
        .crossJoin(F.broadcast(tot))
    )
    abc = (
        F.when(F.col("crev") * 100 <= F.col("trev") * 80, "A")
        .when(F.col("crev") * 100 <= F.col("trev") * 95, "B")
        .otherwise("C")
    )
    xyz = (
        F.when((F.col("n_months") < 2) | (F.col("mq") == 0), "Z")
        .when(F.col("sq") / F.col("mq") < 0.5, "X")
        .when(F.col("sq") / F.col("mq") < 1.0, "Y")
        .otherwise("Z")
    )
    return (
        r.select(abc.alias("abc"), xyz.alias("xyz"), "rev")
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("rev") / 100.0, 2).alias("revenue"),
        )
        .orderBy("abc", "xyz")
    )


# =====================================================================
# Round-5 continuation: Wilson score intervals and empirical-Bayes
# rate shrinkage.
# =====================================================================
@query(
    "wilson_interval_priorities",
    """
    WITH d AS (
        SELECT o.o_orderpriority AS pri,
               CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) <= 30
                    THEN 1 ELSE 0 END AS fast
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    g AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(fast) AS BIGINT) AS x
          FROM d GROUP BY pri)
    SELECT pri AS priority, n, x AS n_fast,
           round(x * 1.0 / n, 6) AS p_hat,
           round((x * 1.0 / n + 1.9208 / n
                  - 1.959964 * sqrt((x * 1.0 / n) * (1 - x * 1.0 / n) / n
                                    + 0.9604 / (n * n)))
                 / (1 + 3.841459 / n), 6) AS wilson_lo,
           round((x * 1.0 / n + 1.9208 / n
                  + 1.959964 * sqrt((x * 1.0 / n) * (1 - x * 1.0 / n) / n
                                    + 0.9604 / (n * n)))
                 / (1 + 3.841459 / n), 6) AS wilson_hi
    FROM g ORDER BY priority
    """,
)
def wilson_interval_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% intervals for the fast-ship proportion
    (<= 30 days) per order priority — the proportion CI that stays
    inside [0,1] and behaves at extreme rates where the naive
    Wald +-1.96*sqrt(pq/n) interval fails (the reason every serious
    experimentation platform quotes Wilson). Closed form with z²
    constants inlined (1.9208 = z²/2, 3.841459 = z², 0.9604 = z²/4);
    one join + one priority rollup; exact integer inputs so both
    engines derive identical doubles."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        F.when(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) <= 30,
            1,
        ).otherwise(0).alias("fast"),
    )
    g = d.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("fast").cast("long").alias("x"),
    )
    ph = F.col("x") / F.col("n")
    half = 1.959964 * F.sqrt(
        ph * (1 - ph) / F.col("n") + 0.9604 / (F.col("n") * F.col("n"))
    )
    denom = 1 + 3.841459 / F.col("n")
    return g.select(
        F.col("pri").alias("priority"),
        "n",
        F.col("x").alias("n_fast"),
        F.round(ph, 6).alias("p_hat"),
        F.round((ph + 1.9208 / F.col("n") - half) / denom, 6).alias("wilson_lo"),
        F.round((ph + 1.9208 / F.col("n") + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("priority")


@query(
    "eb_shrunken_rates_nation",
    """
    WITH g AS MATERIALIZED (
        SELECT c.c_nationkey AS nation,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
    mom AS (
        SELECT avg(x * 1.0 / n) AS mu,
               var_samp(x * 1.0 / n) AS v,
               avg(1.0 / n) AS inv_n
        FROM g),
    ab AS (
        SELECT mu,
               CASE WHEN v - mu * (1 - mu) * inv_n > 0
                    THEN mu * (1 - mu)
                         / (v - mu * (1 - mu) * inv_n) - 1
                    ELSE 1000.0 END AS m
        FROM mom),
    prm AS (SELECT greatest(m, 1.0) * mu AS alpha,
                   greatest(m, 1.0) * (1 - mu) AS beta
            FROM ab)
    SELECT g.nation, g.n, g.x,
           round(g.x * 1.0 / g.n, 6) AS raw_rate,
           round((g.x + (SELECT alpha FROM prm))
                 / (g.n + (SELECT alpha FROM prm) + (SELECT beta FROM prm)),
                 6) AS shrunken_rate
    FROM g ORDER BY g.nation
    """,
)
def eb_shrunken_rates_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial, moment-matched) shrinkage of
    per-nation urgent-order rates: the prior Beta(alpha, beta) is fit
    from the BETWEEN-nation moments (excess variance over binomial
    noise), and each nation's rate shrinks toward the global mean in
    proportion to its sample size — the small-area estimator that
    stops tiny nations topping rate leaderboards on noise (the same
    reason baseball batting averages get shrunk). Degenerate
    no-excess-variance case pins a strong prior instead of a negative
    alpha. One join rollup; the prior fit is 25-row moments."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).cast("long").alias("x"),
        )
        .persist()
    )
    mom = g.agg(
        F.avg(F.col("x") / F.col("n")).alias("mu"),
        F.var_samp(F.col("x") / F.col("n")).alias("v"),
        F.avg(1.0 / F.col("n")).alias("inv_n"),
    )
    excess = F.col("v") - F.col("mu") * (1 - F.col("mu")) * F.col("inv_n")
    m = F.when(
        excess > 0, F.col("mu") * (1 - F.col("mu")) / excess - 1
    ).otherwise(F.lit(1000.0))
    prm = mom.select(
        (F.greatest(m, F.lit(1.0)) * F.col("mu")).alias("alpha"),
        (F.greatest(m, F.lit(1.0)) * (1 - F.col("mu"))).alias("beta"),
    )
    return (
        g.crossJoin(F.broadcast(prm))
        .select(
            "nation",
            "n",
            "x",
            F.round(F.col("x") / F.col("n"), 6).alias("raw_rate"),
            F.round(
                (F.col("x") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunken_rate"),
        )
        .orderBy("nation")
    )


@query(
    "vocab_richness_estimators",
    """
    WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS t
        FROM documents),
    cnt AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    cc AS MATERIALIZED (
        SELECT c, CAST(count(*) AS BIGINT) AS f FROM cnt GROUP BY c),
    s AS (SELECT (SELECT CAST(sum(f) AS BIGINT) FROM cc) AS v_obs,
                 (SELECT CAST(sum(c * f) AS BIGINT) FROM cc) AS n_tokens,
                 coalesce((SELECT f FROM cc WHERE c = 1), 0) AS n1,
                 coalesce((SELECT f FROM cc WHERE c = 2), 0) AS n2)
    SELECT v_obs, n_tokens, CAST(n1 AS BIGINT) AS singletons,
           CAST(n2 AS BIGINT) AS doubletons,
           CAST(v_obs + CAST(floor(CASE WHEN n2 > 0
                          THEN n1 * n1 / (2.0 * n2)
                          ELSE n1 * (n1 - 1) / 2.0 END) AS BIGINT)
                AS BIGINT) AS chao1_richness,
           round(n1 * 1.0 / n_tokens, 6) AS good_turing_unseen_mass
    FROM s
    """,
)
def vocab_richness_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness estimators from the count-of-counts
    spectrum: Chao1 total-type richness V + N1²/(2·N2) (with the
    bias-corrected N2=0 fallback) and the Good-Turing unseen-type
    probability mass N1/N — together they answer 'how much vocabulary
    exists that this corpus hasn't seen yet', the capture-recapture
    of linguistics (heaps_law_vocab fits the GROWTH curve; these
    estimate the DESTINATION). One token count + one count-of-counts
    rollup — the second aggregation is at most max-frequency-sized."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(ptx.tokens("text")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cc = cnt.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("f")).persist()
    s = cc.agg(
        F.sum("f").cast("long").alias("v_obs"),
        F.sum(F.col("c") * F.col("f")).cast("long").alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 1, F.col("f"))), F.lit(0)
        ).cast("long").alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 2, F.col("f"))), F.lit(0)
        ).cast("long").alias("n2"),
    )
    chao_extra = F.floor(
        F.when(
            F.col("n2") > 0, F.col("n1") * F.col("n1") / (2.0 * F.col("n2"))
        ).otherwise(F.col("n1") * (F.col("n1") - 1) / 2.0)
    ).cast("long")
    return s.select(
        "v_obs",
        "n_tokens",
        F.col("n1").alias("singletons"),
        F.col("n2").alias("doubletons"),
        (F.col("v_obs") + chao_extra).cast("long").alias("chao1_richness"),
        F.round(F.col("n1") / F.col("n_tokens"), 6).alias(
            "good_turing_unseen_mass"
        ),
    )


# =====================================================================
# Round 6: range-bucketed rank statistics — the implemented 100 TB
# fallback (VERDICT r5 item 5a). The ENGINE side runs the bucketed
# path (n_buckets=16: per-bucket windows + broadcast offset adds, no
# global distinct-value sort); the ORACLE computes the plain exact
# global-window formulas — a green row is a machine-checked proof the
# bucketed decomposition is lossless end-to-end on real data.
# =====================================================================
@query(
    "bucketed_rank_stats",
    """
    WITH v AS (
        SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 2 END AS g,
               o.o_totalprice AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')),
    n AS (SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM v),
    d AS (SELECT x,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                 CAST(count(*) AS BIGINT) AS c
          FROM v GROUP BY x),
    r AS (SELECT c1, c,
                 CAST(sum(c1) OVER w AS DOUBLE) AS a1,
                 CAST(sum(c2) OVER w AS DOUBLE) AS a2,
                 coalesce(sum(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM d
          WINDOW w AS (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (SELECT sum(c1 * (cb + (c + 1) / 2.0)) AS r1,
                 CAST(sum(c * c * c - c) AS DOUBLE) AS ties,
                 max(abs(a1 / (SELECT n1 FROM n)
                         - a2 / (SELECT n2 FROM n))) AS d_raw
          FROM r)
    SELECT n1, n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 6) AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                        * (CAST(n1 + n2 + 1 AS DOUBLE)
                           - ties / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
                 6) AS z,
           round(d_raw, 6) AS ks_d,
           round(sqrt(n1 * n2 / CAST(n1 + n2 AS DOUBLE)) * d_raw, 6) AS ks_scaled
    FROM s, n
    """,
)
def bucketed_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U + two-sample KS on order totals (AUTOMOBILE vs
    HOUSEHOLD), both computed through the RANGE-BUCKETED prefix-sum
    path (operators/stats.bucketed_prefix_sums, n_buckets=16): the
    value axis splits into uniform-width buckets, each bucket windows
    only its own distinct values, per-bucket totals cumulate on a
    16-row frame broadcast back as offsets. The oracle recomputes
    both statistics with plain global windows, so the green hash IS
    the losslessness proof of the bucketed decomposition (the pytest
    law covers random frames; this covers the warehouse)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
        .select(
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(2).alias("g"),
            F.col("o_totalprice").alias("x"),
        )
    )
    mw = st.mann_whitney_u(v, "g", "x", n_buckets=16).select("n1", "n2", "u1", "z")
    ks = st.ks_two_sample(v, "g", "x", n_buckets=16).select("ks_d", "ks_scaled")
    return mw.crossJoin(F.broadcast(ks))


# =====================================================================
# Round 6: HyperBall ANF — the implemented 100 TB twin of the exact
# neighborhood function (VERDICT r5 item 5b). Same sampled graph and
# hop loop as anf_neighborhood_function; per-node state is a mergeable
# HLL register instead of the materialized pair closure. The oracle
# pins the exact counts plus a ≤2%-relative-error flag on the sketch
# estimates (the hll_daily_users contract: estimates are
# implementation-specific, the error bound is engine-portable).
# =====================================================================
@query(
    "hyperball_anf_suppliers",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {{anf_edge}} % 10000 < 60
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    r1 AS MATERIALIZED (SELECT src, dst FROM sym),
    r2 AS MATERIALIZED (
        SELECT src, dst FROM r1
        UNION
        SELECT r.src, s.dst FROM r1 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst),
    r3 AS MATERIALIZED (
        SELECT src, dst FROM r2
        UNION
        SELECT r.src, s.dst FROM r2 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst)
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS hop,
               CAST(count(*) AS BIGINT) AS n_pairs_exact,
               TRUE AS hyperball_within_2pct FROM r1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), TRUE FROM r2
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT), TRUE FROM r3)
    ORDER BY hop
    """.format(anf_edge=_ANF_EDGE_SQL),
)
def hyperball_anf_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall N(h) estimates (graph/anf.py) next to the exact
    frontier-closure counts on the 0.6%-sampled supplier graph: the
    green row machine-checks that the register-merge loop tracks the
    exact neighborhood function within the lg_k=14 accuracy band
    (Spark's sparse-mode HLL is exact at these set sizes, so the flag
    has 1.2%+ headroom beyond observed error at every tier)."""
    from social_link_prediction_spark.graph import anf as ganf

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 60, "anf").localCheckpoint()
    est = ganf.hyperball(e, max_h=3, lg_k=14)
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    r = sym
    exact = None
    for h in (1, 2, 3):
        if h > 1:
            step = (
                r.alias("r")
                .join(sym.alias("s"), F.col("r.dst") == F.col("s.src"))
                .select(F.col("r.src").alias("src"), F.col("s.dst").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
            )
            r = r.unionByName(step).distinct().localCheckpoint()
        c = r.agg(F.count(F.lit(1)).cast("long").alias("n_pairs_exact")).select(
            F.lit(h).cast("long").alias("hop"), "n_pairs_exact"
        )
        exact = c if exact is None else exact.unionByName(c)
    return (
        exact.join(est, "hop")
        .select(
            "hop",
            "n_pairs_exact",
            (
                F.abs(F.col("n_pairs_est") - F.col("n_pairs_exact"))
                <= 0.02 * F.col("n_pairs_exact")
            ).alias("hyperball_within_2pct"),
        )
        .orderBy("hop")
    )


# =====================================================================
# Round 6 additions: ranking-quality eval (NDCG), effective diameter
# (the ANF curve's headline number), and a Johnson-Lindenstrauss
# projection distance-preservation audit.
# =====================================================================
@query(
    "ndcg_popularity_baseline",
    """
    WITH pop AS (
        SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
        ORDER BY n DESC, part ASC LIMIT 10),
    top10 AS (
        SELECT part, row_number() OVER (ORDER BY n DESC, part ASC) AS pos
        FROM pop),
    rel AS MATERIALIZED (
        SELECT o.o_custkey AS cust, l.l_partkey AS part,
               CAST(count(*) AS BIGINT) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    dcg AS (
        SELECT rel.cust, sum(rel.r / log2(t.pos + 1)) AS dcg
        FROM rel JOIN top10 t ON t.part = rel.part GROUP BY rel.cust),
    ranked AS (
        SELECT cust, r,
               row_number() OVER (PARTITION BY cust
                                  ORDER BY r DESC, part ASC) AS k
        FROM rel),
    idcg AS (
        SELECT cust, sum(r / log2(k + 1)) AS idcg
        FROM ranked WHERE k <= 10 GROUP BY cust),
    per_user AS (
        SELECT i.cust, round(coalesce(d.dcg, 0) / i.idcg, 6) AS ndcg
        FROM idcg i LEFT JOIN dcg d ON d.cust = i.cust)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(ndcg), 6) AS mean_ndcg,
           round(avg(CASE WHEN ndcg = 0 THEN 1.0 ELSE 0.0 END), 6)
               AS frac_zero
    FROM per_user
    """,
)
def ndcg_popularity_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the popularity baseline: rank every customer against
    the 10 globally most-ordered parts, graded relevance = how often
    the customer actually ordered the part — the ranking-quality
    floor any personalized recommender (cf_recommend_parts_c1,
    item_item_cosine_topk, ALS) must beat, and the missing member of
    the eval family next to MRR/hits@k/AUC. Scale shape: the global
    top-10 comes from orderBy+limit (TakeOrdered k-heap, no full
    sort), broadcast to a semi-join; IDCG's window partitions per
    customer. deterministic ties: (count desc, part asc) /
    (rel desc, part asc)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pop = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("part").asc())
        .limit(10)
    )
    w10 = Window.orderBy(F.col("n").desc(), F.col("part").asc())
    top10 = pop.withColumn("pos", F.row_number().over(w10)).select("part", "pos")
    rel = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
        .persist()
    )
    dcg = (
        rel.join(F.broadcast(top10), "part")
        .groupBy("cust")
        .agg(F.sum(F.col("r") / F.log2(F.col("pos") + 1)).alias("dcg"))
    )
    wk = Window.partitionBy("cust").orderBy(F.col("r").desc(), F.col("part").asc())
    idcg = (
        rel.withColumn("k", F.row_number().over(wk))
        .filter(F.col("k") <= 10)
        .groupBy("cust")
        .agg(F.sum(F.col("r") / F.log2(F.col("k") + 1)).alias("idcg"))
    )
    per_user = idcg.join(dcg, "cust", "left").select(
        F.round(
            F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6
        ).alias("ndcg")
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("ndcg"), 6).alias("mean_ndcg"),
        F.round(
            F.avg(F.when(F.col("ndcg") == 0, 1.0).otherwise(0.0)), 6
        ).alias("frac_zero"),
    )


@query(
    "effective_diameter_suppliers",
    f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {{anf_edge}} % 10000 < 60
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    r1 AS MATERIALIZED (SELECT src, dst FROM sym),
    r2 AS MATERIALIZED (
        SELECT src, dst FROM r1 UNION
        SELECT r.src, s.dst FROM r1 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst),
    r3 AS MATERIALIZED (
        SELECT src, dst FROM r2 UNION
        SELECT r.src, s.dst FROM r2 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst),
    r4 AS MATERIALIZED (
        SELECT src, dst FROM r3 UNION
        SELECT r.src, s.dst FROM r3 r JOIN sym s ON s.src = r.dst
        WHERE r.src <> s.dst),
    c AS (SELECT CAST(0 AS BIGINT) AS hop, CAST(0 AS BIGINT) AS np
          UNION ALL SELECT 1, count(*) FROM r1
          UNION ALL SELECT 2, count(*) FROM r2
          UNION ALL SELECT 3, count(*) FROM r3
          UNION ALL SELECT 4, count(*) FROM r4),
    mx AS (SELECT max(np) AS nmax FROM c),
    hit AS (SELECT min(hop) AS h FROM c
            WHERE np * 10 >= 9 * (SELECT nmax FROM mx)),
    prev AS (SELECT np AS np_prev FROM c
             WHERE hop = (SELECT h FROM hit) - 1),
    cur AS (SELECT np AS np_cur FROM c WHERE hop = (SELECT h FROM hit))
    SELECT (SELECT nmax FROM mx) AS n_pairs_max,
           CAST((SELECT h FROM hit) AS BIGINT) AS h90,
           round(CASE WHEN (SELECT nmax FROM mx) = 0 THEN NULL
                      WHEN (SELECT np_cur FROM cur)
                           = (SELECT np_prev FROM prev)
                      THEN (SELECT h FROM hit)
                      ELSE ((SELECT h FROM hit) - 1)
                           + (0.9 * (SELECT nmax FROM mx)
                              - (SELECT np_prev FROM prev))
                             / ((SELECT np_cur FROM cur)
                                - (SELECT np_prev FROM prev)) END, 6)
               AS eff_diameter_90
    """.format(anf_edge=_ANF_EDGE_SQL),
)
def effective_diameter_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective diameter (the 90th-percentile hop distance, linearly
    interpolated — Leskovec et al.'s shrinking-diameters metric): the
    single headline number the ANF curve exists to produce. Reuses
    the exact hop closure on the 0.6%-sampled supplier graph to
    h = 4; h90 = smallest h with N(h) ≥ 0.9·N(4), interpolated
    between N(h90−1) and N(h90). Integer counts end-to-end; the one
    division happens on 6-dp-rounded output. NULL on an edgeless
    tier."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 60, "anf")
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    r = sym
    counts = [(0, None)]  # hop -> count frame (0 handled as literal)
    frames = []
    spark_zero = sup.sparkSession.range(1).select(
        F.lit(0).cast("long").alias("hop"), F.lit(0).cast("long").alias("np")
    )
    frames.append(spark_zero)
    for h in (1, 2, 3, 4):
        if h > 1:
            step = (
                r.alias("r")
                .join(sym.alias("s"), F.col("r.dst") == F.col("s.src"))
                .select(F.col("r.src").alias("src"), F.col("s.dst").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
            )
            r = r.unionByName(step).distinct().localCheckpoint()
        frames.append(
            r.agg(F.count(F.lit(1)).cast("long").alias("np")).select(
                F.lit(h).cast("long").alias("hop"), "np"
            )
        )
    c = frames[0]
    for f_ in frames[1:]:
        c = c.unionByName(f_)
    c = c.localCheckpoint()
    mx = c.agg(F.max("np").alias("nmax"))
    hit = (
        c.crossJoin(F.broadcast(mx))
        .filter(F.col("np") * 10 >= 9 * F.col("nmax"))
        .agg(F.min("hop").alias("h"))
    )
    # agg (never-empty, null-on-miss) rather than a bare select: at an
    # edgeless tier h = 0 and hop h-1 = -1 matches nothing — a 0-row
    # frame would annihilate the crossJoin while the oracle's scalar
    # subquery yields NULL and keeps its row
    prev = (
        c.join(F.broadcast(hit), F.col("hop") == F.col("h") - 1)
        .agg(F.max("np").alias("np_prev"))
    )
    cur = (
        c.join(F.broadcast(hit), F.col("hop") == F.col("h"))
        .agg(F.max("np").alias("np_cur"))
    )
    return (
        mx.crossJoin(F.broadcast(hit))
        .crossJoin(F.broadcast(prev))
        .crossJoin(F.broadcast(cur))
        .select(
            F.col("nmax").alias("n_pairs_max"),
            F.col("h").cast("long").alias("h90"),
            F.round(
                F.when(F.col("nmax") == 0, F.lit(None)).when(
                    F.col("np_cur") == F.col("np_prev"), F.col("h").cast("double")
                ).otherwise(
                    (F.col("h") - 1)
                    + (0.9 * F.col("nmax") - F.col("np_prev"))
                    / (F.col("np_cur") - F.col("np_prev"))
                ),
                6,
            ).alias("eff_diameter_90"),
        )
    )
