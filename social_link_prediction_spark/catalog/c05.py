"""Catalog part 5/7: inference + experimentation + anomaly families (exact tests, Bayes A/B,
sketch audits, encodings, survival/calibration, outlier detectors).

Imports the shared core from ``_base`` and the helpers it reuses from
earlier family modules; see catalog/__init__.py.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_link_prediction_spark.catalog._base import _DUCK_H60, _t, _trunc_ntz, query
from social_link_prediction_spark.catalog.c01 import _DUCK_TOKS
from social_link_prediction_spark.catalog.c02 import _AS_ERF, _FIS_MINSUP
from social_link_prediction_spark.catalog.c04 import _lgamma_sql
from social_link_prediction_spark.graph import testgraph as tg
from social_link_prediction_spark.ml import linksplit as mls
from social_link_prediction_spark.operators import stats as st
from social_link_prediction_spark.pipelines import similarity as sim
from social_link_prediction_spark.pipelines import text as ptx


def _lfact_sql(k: str) -> str:
    """ln(k!) = ln Gamma(k + 1), engine-shared text."""
    return _lgamma_sql(f"({k}) + 1e0")


# log hypergeometric pmf ln P(K = k | n, r1, c1) over the 2x2 margins
_FISHER_LOGP = (
    f"({_lfact_sql('r1')} - {_lfact_sql('k')} - {_lfact_sql('r1 - k')}"
    f" + {_lfact_sql('n - r1')} - {_lfact_sql('c1 - k')}"
    f" - {_lfact_sql('n - r1 - c1 + k')}"
    f" - ({_lfact_sql('n')} - {_lfact_sql('c1')} - {_lfact_sql('n - c1')}))"
)
_FISHER_LOGP_OBS = _FISHER_LOGP.replace("k", "ka")

_FISHER_CELLS_SQL = """
        SELECT CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ka,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                              AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                              AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM orders
"""


@query(
    "fisher_exact_priority_status",
    f"""
    WITH cells AS ({_FISHER_CELLS_SQL}),
    m AS (
        SELECT ka, b, c, d,
               ka + b + c + d AS n, ka + b AS r1, ka + c AS c1
        FROM cells),
    ks AS (
        SELECT m.*, unnest(generate_series(
                   greatest(CAST(0 AS BIGINT), r1 + c1 - n),
                   least(r1, c1))) AS k
        FROM m),
    pm AS (
        SELECT k, ka, exp({_FISHER_LOGP}) AS p,
               {_FISHER_LOGP} AS logp, {_FISHER_LOGP_OBS} AS logp_obs
        FROM ks)
    SELECT (SELECT ka FROM cells) AS n11,
           (SELECT b FROM cells) AS n12,
           (SELECT c FROM cells) AS n21,
           (SELECT d FROM cells) AS n22,
           round((SELECT (ka * 1e0 * d) / greatest(b * 1e0 * c, 1e0)
                  FROM cells), 6) AS odds_ratio,
           round(sum(CASE WHEN logp <= logp_obs + 1e-7 THEN p
                          ELSE 0.0 END), 6) AS p_two_sided,
           round(sum(CASE WHEN k <= ka THEN p ELSE 0.0 END), 6) AS p_left,
           round(sum(CASE WHEN k >= ka THEN p ELSE 0.0 END), 6) AS p_right
    FROM pm
    """,
)
def fisher_exact_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the urgent-priority x finished-status
    2x2 table: the full hypergeometric pmf is evaluated over the
    support (one ln-factorial closed form per k — no factorial
    overflow, no normal approximation), giving exact left / right /
    two-sided p-values plus the sample odds ratio. This is the
    small-count companion of chi2_priority_segment: chi-squared's
    asymptotics die exactly where 100 TB long-tail slices live (rare
    segments, rare outcomes). The support explode is min(r1, c1)
    rows from ONE 4-cell aggregate — corpus touched once; the lgamma
    closed form is engine-shared text (_lgamma_sql), so the oracle
    evaluates the identical expression tree."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    fstat = F.col("o_orderstatus") == "F"
    cells = o.agg(
        F.sum((urgent & fstat).cast("long")).alias("ka"),
        F.sum((urgent & ~fstat).cast("long")).alias("b"),
        F.sum((~urgent & fstat).cast("long")).alias("c"),
        F.sum((~urgent & ~fstat).cast("long")).alias("d"),
    )
    m = cells.select(
        "ka", "b", "c", "d",
        F.expr("ka + b + c + d").alias("n"),
        F.expr("ka + b").alias("r1"),
        F.expr("ka + c").alias("c1"),
    )
    ks = m.select(
        "*",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0).cast("long"), F.expr("r1 + c1 - n")),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    pm = ks.select(
        "k", "ka",
        F.expr(f"exp({_FISHER_LOGP})").alias("p"),
        F.expr(_FISHER_LOGP).alias("logp"),
        F.expr(_FISHER_LOGP_OBS).alias("logp_obs"),
    )
    agg_row = pm.agg(
        F.round(
            F.sum(
                F.when(
                    F.col("logp") <= F.col("logp_obs") + 1e-7, F.col("p")
                ).otherwise(0.0)
            ),
            6,
        ).alias("p_two_sided"),
        F.round(
            F.sum(F.when(F.col("k") <= F.col("ka"), F.col("p")).otherwise(0.0)), 6
        ).alias("p_left"),
        F.round(
            F.sum(F.when(F.col("k") >= F.col("ka"), F.col("p")).otherwise(0.0)), 6
        ).alias("p_right"),
    )
    return cells.crossJoin(F.broadcast(agg_row)).select(
        F.col("ka").alias("n11"),
        F.col("b").alias("n12"),
        F.col("c").alias("n21"),
        F.col("d").alias("n22"),
        F.round(
            (F.col("ka") * 1.0 * F.col("d"))
            / F.greatest(F.col("b") * 1.0 * F.col("c"), F.lit(1.0)),
            6,
        ).alias("odds_ratio"),
        "p_two_sided", "p_left", "p_right",
    )


_BAYES_PTERM = (
    "exp("
    f"{_lgamma_sql('aa + i')} + {_lgamma_sql('ba + bb')}"
    f" - {_lgamma_sql('aa + i + ba + bb')}"
    f" - ln(bb + i) - ({_lgamma_sql('1.0 + i')} + {_lgamma_sql('bb')}"
    f" - {_lgamma_sql('1.0 + i + bb')})"
    f" - ({_lgamma_sql('aa')} + {_lgamma_sql('ba')}"
    f" - {_lgamma_sql('aa + ba')}))"
)


@query(
    "bayes_ab_conversion",
    f"""
    WITH conv AS (
        SELECT user_id, user_id % 2 AS variant,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
        FROM events GROUP BY user_id),
    cells AS (
        SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN variant = 0 THEN cv ELSE 0 END) AS BIGINT)
                   AS conv_a,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(CASE WHEN variant = 1 THEN cv ELSE 0 END) AS BIGINT)
                   AS conv_b
        FROM conv),
    pars AS (
        SELECT n_a, conv_a, n_b, conv_b,
               1e0 + conv_a AS aa, 1e0 + n_a - conv_a AS ba,
               1e0 + conv_b AS ab, 1e0 + n_b - conv_b AS bb
        FROM cells),
    terms0 AS (
        SELECT pars.*, unnest(generate_series(
                   CAST(0 AS BIGINT), CAST(ab - 1 AS BIGINT))) AS i0
        FROM pars),
    terms AS (
        SELECT terms0.*, CAST(i0 AS DOUBLE) AS i FROM terms0),
    psum AS (
        SELECT round(sum({_BAYES_PTERM}), 6) AS p_b_beats_a FROM terms)
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a * 1.0 / n_a, 6) AS rate_a,
           round(conv_b * 1.0 / n_b, 6) AS rate_b,
           (SELECT p_b_beats_a FROM psum) AS p_b_beats_a,
           round(conv_b * 1.0 / n_b - conv_a * 1.0 / n_a, 6) AS abs_lift
    FROM pars
    """,
)
def bayes_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B on user conversion (any 'purchase' event), hash-
    split by user_id parity: Beta(1,1) priors, and P(B > A) by the
    EXACT closed-form sum over the integer posterior (Cook's
    identity: sum_i B(aA+i, bA+bB) / ((bB+i) B(1+i, bB) B(aA, bA)))
    — no Monte Carlo, no normal approximation, so the answer is a
    deterministic number both engines reproduce from the same
    engine-shared lgamma text. The frequentist twin is
    ab_test_zscore; this is the posterior-probability view product
    teams actually ship. One corpus pass (per-user rollup), a 4-cell
    aggregate, then a conv_b-sized term explode from one row."""
    ev = _t(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("cv")
    ).withColumn("variant", F.col("user_id") % 2)
    cells = conv.agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("cv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum((F.col("variant") == 1).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("cv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    pars = cells.select(
        "n_a", "conv_a", "n_b", "conv_b",
        (1.0 + F.col("conv_a")).alias("aa"),
        (1.0 + F.col("n_a") - F.col("conv_a")).alias("ba"),
        (1.0 + F.col("conv_b")).alias("ab"),
        (1.0 + F.col("n_b") - F.col("conv_b")).alias("bb"),
    )
    terms = pars.select(
        "*",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.expr("CAST(ab - 1 AS BIGINT)")
            )
        ).alias("i0"),
    ).withColumn("i", F.col("i0").cast("double"))
    psum = terms.agg(
        F.round(F.sum(F.expr(_BAYES_PTERM)), 6).alias("p_b_beats_a")
    )
    return pars.crossJoin(F.broadcast(psum)).select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(F.col("conv_a") * 1.0 / F.col("n_a"), 6).alias("rate_a"),
        F.round(F.col("conv_b") * 1.0 / F.col("n_b"), 6).alias("rate_b"),
        "p_b_beats_a",
        F.round(
            F.col("conv_b") * 1.0 / F.col("n_b")
            - F.col("conv_a") * 1.0 / F.col("n_a"),
            6,
        ).alias("abs_lift"),
    )


@query(
    "ams_f2_tokens",
    f"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS t
        FROM documents),
    cnt AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    sk AS (
        SELECT rs.r,
               sum(CASE WHEN {_DUCK_H60.format(args="t, 'ams' || CAST(rs.r AS VARCHAR)")} % 2 = 0
                        THEN c ELSE -c END) AS s
        FROM cnt, (SELECT unnest(generate_series(0, 15)) AS r) rs
        GROUP BY rs.r),
    est AS (SELECT avg(s * 1.0 * s) AS f2_est FROM sk),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
                  CAST(sum(c * c) AS BIGINT) AS f2_exact FROM cnt)
    SELECT vocab, f2_exact,
           round(f2_est, 4) AS f2_est,
           round(abs(f2_est - f2_exact) / f2_exact, 6) AS rel_err
    FROM ex, est
    """,
)
def ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy,
    STOC'96) over the document token stream: 16 sign-hash counters
    S_r = sum_t sign_r(t) * count(t); E[S_r^2] = F2 = sum count^2 —
    the self-join-size / repeat-rate statistic that prices every
    skew-sensitive join and the canonical streaming-sketch result.
    Signs come from the replayable h60 coin, so the oracle computes
    the identical 16 counters; the exact F2 rides along as the audit
    (rel_err). Scale shape: one token-count aggregation is corpus-
    sized; the 16x counter expansion runs on the VOCABULARY frame
    (map-side combined into 16 rows), never on the corpus."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(ptx.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    sk = (
        cnt.select(
            "t", "c", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("r")
        )
        .select(
            "r",
            F.when(
                mls.hash60(
                    F.col("t"), F.concat(F.lit("ams"), F.col("r").cast("string"))
                )
                % 2
                == 0,
                F.col("c"),
            )
            .otherwise(-F.col("c"))
            .alias("sc"),
        )
        .groupBy("r")
        .agg(F.sum("sc").alias("s"))
    )
    est = sk.agg(F.avg(F.col("s") * 1.0 * F.col("s")).alias("f2_est"))
    ex = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
    )
    return ex.crossJoin(F.broadcast(est)).select(
        "vocab",
        "f2_exact",
        F.round("f2_est", 4).alias("f2_est"),
        F.round(
            F.abs(F.col("f2_est") - F.col("f2_exact")) / F.col("f2_exact"), 6
        ).alias("rel_err"),
    )


# =====================================================================
# Round-6 third wave, part 3: training-feature hygiene (leakage-free
# target encoding), marketing-science adstock regression, and the
# lakehouse file-compaction planner (FilePartition-style cumulative
# bin packing).
# =====================================================================

@query(
    "target_encoding_oof",
    """
    WITH base AS (
        SELECT o_orderpriority AS priority,
               o_orderkey % 5 AS fold, o_totalprice AS y
        FROM orders),
    per_fold AS (
        SELECT priority, fold, CAST(count(*) AS BIGINT) AS n_in_fold,
               sum(y) AS sum_f
        FROM base GROUP BY priority, fold),
    per_cat AS (
        SELECT priority, CAST(count(*) AS BIGINT) AS cnt_all,
               sum(y) AS sum_all
        FROM base GROUP BY priority)
    SELECT f.priority, f.fold, f.n_in_fold,
           round((c.sum_all - f.sum_f) / (c.cnt_all - f.n_in_fold), 6)
               AS oof_mean
    FROM per_fold f JOIN per_cat c ON c.priority = f.priority
    ORDER BY f.priority, f.fold
    """,
)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-FREE way to turn a
    categorical into a numeric feature: each hash-fold's encoding for
    a category is the target mean computed from the OTHER four folds
    ((sum_all - sum_fold) / (cnt_all - cnt_fold)), so no row's own
    label leaks into its feature. This is the feature-engineering
    twin of kfold_counts and the hygiene step naive mean-encoding
    pipelines get wrong (train-serve skew + target leakage). Two
    keyed aggregations over one corpus pass, then a category-sized
    broadcast join — at 100 TB the encode table is (categories x
    folds) rows and ships to executors as a broadcast dim."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.col("o_totalprice").alias("y"),
    )
    per_fold = o.groupBy("priority", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_fold"),
        F.sum("y").alias("sum_f"),
    )
    per_cat = o.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.sum("y").alias("sum_all"),
    )
    return (
        per_fold.join(F.broadcast(per_cat), "priority")
        .select(
            "priority", "fold", "n_in_fold",
            F.round(
                (F.col("sum_all") - F.col("sum_f"))
                / (F.col("cnt_all") - F.col("n_in_fold")),
                6,
            ).alias("oof_mean"),
        )
        .orderBy("priority", "fold")
    )


_ADSTOCK_DECAY = 0.6
_ADSTOCK_LAGS = 13  # current day + 13 preceding


@query(
    "adstock_ols_events",
    f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS purchases
        FROM events GROUP BY CAST(ts AS DATE)),
    ad AS MATERIALIZED (
        SELECT a.d, a.purchases,
               sum(b.clicks * power({_ADSTOCK_DECAY},
                   date_diff('day', b.d, a.d))) AS adstock
        FROM daily a JOIN daily b
          ON b.d <= a.d AND b.d >= a.d - {_ADSTOCK_LAGS}
        GROUP BY a.d, a.purchases),
    m AS (SELECT avg(adstock) AS mx, avg(purchases * 1.0) AS my,
                 CAST(count(*) AS BIGINT) AS n FROM ad),
    fit AS (
        SELECT n, mx, my,
               sum((adstock - mx) * (purchases - my))
                   / sum((adstock - mx) * (adstock - mx)) AS slope,
               sum((adstock - mx) * (purchases - my))
                   * (sum((adstock - mx) * (purchases - my))
                      / (sum((adstock - mx) * (adstock - mx))
                         * sum((purchases - my) * (purchases - my)))) AS r2
        FROM ad, m GROUP BY n, mx, my)
    SELECT n AS n_days, round(slope, 6) AS slope,
           round(my - slope * mx, 6) AS intercept, round(r2, 6) AS r2
    FROM fit
    """,
)
def adstock_ols_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-adstock marketing regression: daily click counts are
    carried over with decay 0.6 for up to 13 trailing days (the
    adstock transform — advertising's memory), then daily purchases
    are regressed on the adstocked series by closed-form OLS (slope,
    intercept, r2). This is the media-mix-model primitive behind
    every marketing-spend attribution deck, next to the touch-based
    attribution family (markov/shapley/time_decay). The adstock join
    is CALENDAR-BOUNDED (days x 14 lag rows) — identical cost at any
    corpus SF; the daily rollup is the only corpus pass."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("int"))
            .cast("long")
            .alias("clicks"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("long")
            .alias("purchases"),
        )
        .persist()
    )
    b = daily.select(
        F.col("d").alias("bd"), F.col("clicks").alias("bclicks")
    )
    ad = (
        daily.join(
            b,
            (F.col("bd") <= F.col("d"))
            & (F.col("bd") >= F.date_sub(F.col("d"), _ADSTOCK_LAGS)),
        )
        .groupBy("d", "purchases")
        .agg(
            F.sum(
                F.col("bclicks")
                * F.expr(
                    f"power({_ADSTOCK_DECAY}, datediff(d, bd))"
                )
            ).alias("adstock")
        )
        .persist()
    )
    m = ad.agg(
        F.avg("adstock").alias("mx"),
        F.avg(F.col("purchases") * 1.0).alias("my"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    fit = (
        ad.crossJoin(F.broadcast(m))
        .groupBy("n", "mx", "my")
        .agg(
            (
                F.sum((F.col("adstock") - F.col("mx")) * (F.col("purchases") - F.col("my")))
                / F.sum((F.col("adstock") - F.col("mx")) * (F.col("adstock") - F.col("mx")))
            ).alias("slope"),
            (
                F.sum((F.col("adstock") - F.col("mx")) * (F.col("purchases") - F.col("my")))
                * (
                    F.sum((F.col("adstock") - F.col("mx")) * (F.col("purchases") - F.col("my")))
                    / (
                        F.sum((F.col("adstock") - F.col("mx")) * (F.col("adstock") - F.col("mx")))
                        * F.sum((F.col("purchases") - F.col("my")) * (F.col("purchases") - F.col("my")))
                    )
                )
            ).alias("r2"),
        )
    )
    return fit.select(
        F.col("n").alias("n_days"),
        F.round("slope", 6).alias("slope"),
        F.round(F.col("my") - F.col("slope") * F.col("mx"), 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


_PACK_TARGET_BYTES = 262_144  # 256 KiB compaction target
_PACK_ROW_BYTES = 128


@query(
    "compaction_packing_plan",
    f"""
    WITH files AS MATERIALIZED (
        SELECT l_orderkey % 499 AS fid,
               CAST(count(*) * {_PACK_ROW_BYTES} AS BIGINT) AS bytes
        FROM lineitem GROUP BY l_orderkey % 499),
    packed AS (
        SELECT fid, bytes,
               CAST((sum(bytes) OVER (ORDER BY fid
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     ) AS BIGINT) AS cum_excl
        FROM files),
    bins AS (
        SELECT coalesce(cum_excl, 0) // {_PACK_TARGET_BYTES} AS bin,
               fid, bytes
        FROM packed),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(bytes) AS BIGINT) AS bin_bytes
        FROM bins GROUP BY bin)
    SELECT CAST(sum(n_files) AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(bin_bytes) AS BIGINT) AS total_bytes,
           round(avg(bin_bytes) / {_PACK_TARGET_BYTES}.0, 6) AS avg_fill,
           CAST(max(bin_bytes) AS BIGINT) AS max_bin_bytes,
           CAST(max(n_files) AS BIGINT) AS max_bin_files
    FROM per_bin
    """,
)
def compaction_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner by cumulative-offset bin packing
    — the EXACT strategy Spark's own FilePartition packing uses
    (sort splits, assign by floor(cumulative_offset / target)):
    lineitem's order-hash pseudo-files are packed toward a 256 KiB
    target and the plan is audited (bin count, fill factor, worst
    bin). The small-files problem is THE operational tax of a 100 TB
    lakehouse ingest (every micro-batch writes per-partition
    fragments); this query is the planning half of the write-side
    family next to write_partition_skew_audit and zorder_layout_audit.
    One corpus pass builds the file inventory; the packing window
    runs on the FILE-COUNT-sized frame (499 rows), not the corpus."""
    li = _t(spark, sf_dir, "lineitem")
    files = li.groupBy((F.col("l_orderkey") % 499).alias("fid")).agg(
        (F.count(F.lit(1)) * _PACK_ROW_BYTES).cast("long").alias("bytes")
    )
    w = Window.orderBy("fid").rowsBetween(Window.unboundedPreceding, -1)
    packed = files.select(
        "fid", "bytes", F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("cum_excl")
    )
    per_bin = (
        packed.select(
            F.expr(f"cum_excl div {_PACK_TARGET_BYTES}").alias("bin"),
            "fid",
            "bytes",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("bin_bytes"),
        )
    )
    return per_bin.agg(
        F.sum("n_files").cast("long").alias("n_files"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("bin_bytes").cast("long").alias("total_bytes"),
        F.round(F.avg("bin_bytes") / float(_PACK_TARGET_BYTES), 6).alias("avg_fill"),
        F.max("bin_bytes").cast("long").alias("max_bin_bytes"),
        F.max("n_files").cast("long").alias("max_bin_files"),
    )


# =====================================================================
# Round-6 third wave, part 4: distributed Boruvka MST (oracle = Prim
# via recursive CTE, same total order), independent-cascade spread on
# the percolated live-edge graph, Cox proportional hazards by unrolled
# Newton on risk-set sufficient statistics, and Kneser-Ney bigram
# smoothing — four classics no relational pass expresses directly.
# =====================================================================

_MST_EDGES_SQL = """
        SELECT u, v, round(sum(rev), 2) AS w FROM (
            SELECT least(CAST(c.c_nationkey AS BIGINT),
                         CAST(s.s_nationkey AS BIGINT)) AS u,
                   greatest(CAST(c.c_nationkey AS BIGINT),
                            CAST(s.s_nationkey AS BIGINT)) AS v,
                   l.l_extendedprice * (1 - l.l_discount) AS rev
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            WHERE c.c_nationkey <> s.s_nationkey)
        GROUP BY u, v
"""


@query(
    "mst_nation_trade",
    f"""
    WITH RECURSIVE pe AS MATERIALIZED ({_MST_EDGES_SQL}),
    start AS (SELECT min(u) AS sid FROM pe),
    grow AS (
        SELECT [sid] AS vis, CAST(NULL AS BIGINT) AS mu,
               CAST(NULL AS BIGINT) AS mv, CAST(NULL AS DOUBLE) AS mw,
               0 AS k
        FROM start
        UNION ALL
        SELECT list_append(vis,
                   CASE WHEN list_contains(vis, p.u) THEN p.v ELSE p.u END),
               p.u, p.v, p.w, k + 1
        FROM grow, LATERAL (
            SELECT u, v, w FROM pe
            WHERE list_contains(grow.vis, u) <> list_contains(grow.vis, v)
            ORDER BY w, u, v LIMIT 1) p
        WHERE k < 60)
    SELECT mu AS u, mv AS v, mw AS w FROM grow WHERE k >= 1 ORDER BY u, v
    """,
)
def mst_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning tree of the nation-level trade graph (edge
    weight = customer-nation <-> supplier-nation revenue, rounded to
    cents BEFORE the tree so both engines compare identical doubles)
    by DISTRIBUTED BORUVKA (graph/mst.py): per round every component
    min-aggregates its outgoing edge under the total order (w, u, v)
    and the merge graph contracts via the large-star CC pass —
    O(log V) rounds of keyed joins/aggs, the MST shape that survives
    a 100 TB edge list (Lattanzi et al. filtering model). The oracle
    replays sequential PRIM with the same tie-break inside a
    recursive CTE — a DIFFERENT algorithm forced to the IDENTICAL
    unique tree, the strongest parity check in the graph family.
    The trade rollup is the only corpus-sized stage (one
    aggregation); the MST itself runs on the nation-pair frame."""
    from social_link_prediction_spark.graph.mst import boruvka_mst

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least(
                F.col("c_nationkey").cast("long"),
                F.col("s_nationkey").cast("long"),
            ).alias("u"),
            F.greatest(
                F.col("c_nationkey").cast("long"),
                F.col("s_nationkey").cast("long"),
            ).alias("v"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .groupBy("u", "v")
        .agg(F.round(F.sum("rev"), 2).alias("w"))
    )
    return boruvka_mst(pairs).orderBy("u", "v")


def _duck_cascade_sql(rounds: int = 4) -> str:
    edge_sql = _DUCK_H60.format(
        args="CAST(a.id AS VARCHAR) || '-' || CAST(b.id AS VARCHAR), 'casc'"
    )
    coin_sql = _DUCK_H60.format(
        args="CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR), 'cascp'"
    )
    ctes = [
        f"""s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e0 AS MATERIALIZED (
        SELECT a.id AS u, b.id AS v FROM s a JOIN s b ON a.id <> b.id
        WHERE {edge_sql} % 10000 < 500),
    pe AS MATERIALIZED (SELECT u, v FROM e0 WHERE {coin_sql} % 100 < 30),
    a0 AS (SELECT id, CAST(0 AS INT) AS round FROM s WHERE id % 37 = 5),
    f0 AS (SELECT id FROM a0)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""f{r} AS MATERIALIZED (
            SELECT DISTINCT e.v AS id FROM pe e
            JOIN f{r - 1} f ON f.id = e.u
            WHERE e.v NOT IN (SELECT id FROM a{r - 1}))"""
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
            SELECT id, round FROM a{r - 1}
            UNION ALL SELECT id, CAST({r} AS INT) AS round FROM f{r})"""
        )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT round, CAST(count(*) AS BIGINT) AS n_activated
    FROM a{rounds} GROUP BY round ORDER BY round
    """


@query("independent_cascade_spread", _duck_cascade_sql())
def independent_cascade_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-cascade influence spread (Kempe-Kleinberg-Tardos,
    KDD'03) from the deterministic seed set (id % 37 = 5) on the
    directed sampled supplier graph: each edge fires with p = 0.30
    via the replayable h60 coin, and by the live-edge equivalence the
    cascade is EXACTLY multi-seed BFS on the percolated subgraph — so
    one deterministic simulation run is one static hop-bounded search
    (graph/closure.py bfs_rounds), not a Monte-Carlo ensemble.
    Returns activations per round (round 0 = seeds). The percolation
    coin is a scan-side filter; each of the 4 rounds is one level of
    the search: one edge join + one min-merge."""
    from social_link_prediction_spark.graph.closure import bfs_rounds

    sup = tg.supplier_nodes(_t(spark, sf_dir, "supplier"))
    live = tg.sampled_edges(sup, 500, "casc", directed=True).filter(
        mls.hash60(F.format_string("%d-%d", "src", "dst"), F.lit("cascp")) % 100
        < 30
    )
    seeds = sup.filter(F.col("id") % 37 == 5)
    act = bfs_rounds(live, seeds, max_rounds=4)
    return (
        act.groupBy("round")
        .agg(F.count(F.lit(1)).cast("long").alias("n_activated"))
        .orderBy("round")
    )


_COX_U_TERM = "sx - dk * (r1 * exp(b)) / (r1 * exp(b) + r0)"
_COX_I_TERM = (
    "dk * (r1 * exp(b) * r0)"
    " / ((r1 * exp(b) + r0) * (r1 * exp(b) + r0))"
)


def _duck_cox_sql(rounds: int = 6) -> str:
    """Cox partial-likelihood Newton unrolled: the risk-set frame is
    built once; each round is one 1-row cross join + two sums."""
    ctes = [
        f"""bounds AS (SELECT CAST(max(ts) AS DATE) AS obs_end FROM events),
    per_user AS MATERIALIZED (
        SELECT user_id, CAST(min(ts) AS DATE) AS first_d,
               CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS DATE) AS purch_d
        FROM events GROUP BY user_id),
    pu AS MATERIALIZED (
        SELECT user_id % 2 AS x,
               CASE WHEN purch_d IS NOT NULL THEN 1 ELSE 0 END AS evn,
               CASE WHEN purch_d IS NOT NULL
                    THEN date_diff('day', first_d, purch_d)
                    ELSE date_diff('day', first_d,
                                   (SELECT obs_end FROM bounds))
               END AS dur
        FROM per_user),
    byd AS MATERIALIZED (
        SELECT dur, CAST(sum(evn) AS BIGINT) AS dk,
               CAST(sum(evn * x) AS BIGINT) AS sx,
               CAST(sum(x) AS BIGINT) AS n1,
               CAST(count(*) - sum(x) AS BIGINT) AS n0
        FROM pu GROUP BY dur),
    rs AS MATERIALIZED (
        SELECT dur, dk, CAST(sx AS DOUBLE) AS sx,
               CAST(sum(n1) OVER (ORDER BY dur DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS r1,
               CAST(sum(n0) OVER (ORDER BY dur DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS r0
        FROM byd),
    evr AS MATERIALIZED (SELECT * FROM rs WHERE dk > 0),
    n0_ AS (SELECT 0e0 AS b)"""
    ]
    prev = "n0_"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""n{t}_ AS (
            SELECT b + usum / isum AS b FROM (
                SELECT max(b) AS b, sum({_COX_U_TERM}) AS usum,
                       sum({_COX_I_TERM}) AS isum
                FROM evr, {prev}))"""
        )
        prev = f"n{t}_"
    ctes.append(
        f"""fin AS (
        SELECT max(b) AS beta, sum({_COX_I_TERM}) AS info
        FROM evr, {prev})"""
    )
    ctes.append(
        """cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(evn) AS BIGINT) AS n_events FROM pu)"""
    )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT n_users, n_events, round(beta, 6) AS beta,
           round(exp(beta), 6) AS hazard_ratio,
           round(1e0 / sqrt(info), 6) AS se,
           round(beta * sqrt(info), 6) AS z
    FROM cnt, fin
    """


@query("cox_ph_conversion", _duck_cox_sql())
def cox_ph_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression of signup-to-purchase time
    on a binary arm (user_id parity), fit by unrolled Newton (6
    steps) on the partial likelihood. With one binary covariate the
    risk-set sums collapse to COUNTS — r1/r0 at-risk by arm via one
    suffix-cumulative window over the per-duration frame (bounded by
    the calendar) — so each Newton step is two sums over that frame
    against a 1-row broadcast beta: the whole semiparametric fit is
    ONE corpus pass + calendar-sized arithmetic, the exact shape that
    scales. Breslow tie handling; se = 1/sqrt(I(beta_hat)); the
    survival-curve twin is kaplan_meier_conversion / logrank, this
    adds the EFFECT-SIZE estimate (hazard ratio) product analytics
    actually reports."""
    evt = _t(spark, sf_dir, "events")
    obs_end = evt.agg(F.max(F.col("ts").cast("date")).alias("obs_end"))
    per_user = evt.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("purch_d"),
    )
    pu = per_user.crossJoin(F.broadcast(obs_end)).select(
        (F.col("user_id") % 2).alias("x"),
        F.col("purch_d").isNotNull().cast("int").alias("evn"),
        F.when(
            F.col("purch_d").isNotNull(), F.datediff("purch_d", "first_d")
        )
        .otherwise(F.datediff("obs_end", "first_d"))
        .alias("dur"),
    ).persist()
    byd = pu.groupBy("dur").agg(
        F.sum("evn").cast("long").alias("dk"),
        F.sum(F.col("evn") * F.col("x")).cast("long").alias("sx"),
        F.sum("x").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("x")).cast("long").alias("n0"),
    )
    w = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rs = byd.select(
        "dur",
        "dk",
        F.col("sx").cast("double").alias("sx"),
        F.sum("n1").over(w).cast("double").alias("r1"),
        F.sum("n0").over(w).cast("double").alias("r0"),
    )
    evr = rs.filter(F.col("dk") > 0).persist()
    bdf = evr.limit(1).select(F.lit(0.0).alias("b"))
    for _ in range(6):
        bdf = (
            evr.crossJoin(F.broadcast(bdf))
            .agg(
                F.max("b").alias("b"),
                F.sum(F.expr(_COX_U_TERM)).alias("usum"),
                F.sum(F.expr(_COX_I_TERM)).alias("isum"),
            )
            .select((F.col("b") + F.col("usum") / F.col("isum")).alias("b"))
        )
    fin = evr.crossJoin(F.broadcast(bdf)).agg(
        F.max("b").alias("beta"), F.sum(F.expr(_COX_I_TERM)).alias("info")
    )
    cnt = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("evn").cast("long").alias("n_events"),
    )
    return cnt.crossJoin(F.broadcast(fin)).select(
        "n_users",
        "n_events",
        F.round("beta", 6).alias("beta"),
        F.round(F.exp("beta"), 6).alias("hazard_ratio"),
        F.round(1.0 / F.sqrt("info"), 6).alias("se"),
        F.round(F.col("beta") * F.sqrt("info"), 6).alias("z"),
    )


@query(
    "kneser_ney_bigram_docs",
    f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id % 10 = 0 AS is_test, {_DUCK_TOKS} AS toks
        FROM documents),
    bg AS MATERIALIZED (
        SELECT is_test,
               unnest(toks[1:len(toks)-1]) AS v,
               unnest(toks[2:len(toks)]) AS w
        FROM t WHERE len(toks) >= 2),
    bi AS MATERIALIZED (
        SELECT v, w, CAST(count(*) AS BIGINT) AS cvw
        FROM bg WHERE NOT is_test GROUP BY v, w),
    cv AS MATERIALIZED (
        SELECT v, CAST(sum(cvw) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1f
        FROM bi GROUP BY v),
    nr AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS n1r FROM bi GROUP BY w),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM bi),
    te AS MATERIALIZED (
        SELECT bi.cvw, cv.c1, cv.n1f, nr.n1r
        FROM bg
        LEFT JOIN bi USING (v, w)
        LEFT JOIN cv USING (v)
        LEFT JOIN nr USING (w)
        WHERE is_test),
    p AS (
        SELECT CASE WHEN c1 IS NULL
                    THEN coalesce(n1r, 0) * 1e0 / (SELECT tt FROM tt)
                    ELSE greatest(coalesce(cvw, 0) - 75e-2, 0e0) / c1
                         + 75e-2 * n1f / c1
                           * (coalesce(n1r, 0) * 1e0 / (SELECT tt FROM tt))
               END AS pr,
               CASE WHEN c1 IS NULL THEN 1e0 ELSE 0e0 END AS oov_ctx,
               CASE WHEN n1r IS NULL THEN 1e0 ELSE 0e0 END AS oov_w
        FROM te)
    SELECT CAST(count(*) AS BIGINT) AS n_test_bigrams,
           round(avg(oov_ctx), 6) AS oov_context_rate,
           round(avg(oov_w), 6) AS oov_word_rate,
           round(sum(ln(greatest(pr, 1e-10))) / count(*), 6) AS mean_logprob,
           round(exp(-sum(ln(greatest(pr, 1e-10))) / count(*)), 4)
               AS perplexity
    FROM p
    """,
)
def kneser_ney_bigram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (D = 0.75) trained on the
    90% train docs and scored on the held-out 10% (doc_id % 10 = 0):
    p(w|v) = max(c(vw)-D, 0)/c(v) + D·N1+(v,·)/c(v) · p_cont(w),
    p_cont(w) = N1+(·,w)/N1+(·,·) — the CONTINUATION-count smoothing
    that made KenLM the de-facto corpus-quality scorer for LLM
    training mixes (CCNet's filter is exactly this model's
    perplexity; ccnet_perplexity_buckets is the bucketing downstream).
    Unseen contexts back off to p_cont; a 1e-10 floor keeps fully-OOV
    bigrams finite, with OOV rates reported alongside. All four LM
    tables are vocabulary-sized and broadcast onto the held-out
    bigram stream — one corpus tokenize pass, no Python row path."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") % 10 == 0).alias("is_test"),
        ptx.tokens("text").alias("toks"),
    ).filter(F.size("toks") >= 2)
    bg = t.select(
        "is_test",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
            )
        ).alias("pp"),
    ).select("is_test", F.col("pp.0").alias("v"), F.col("pp.1").alias("w"))
    bi = (
        bg.filter(~F.col("is_test"))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cvw"))
        .persist()
    )
    cv = bi.groupBy("v").agg(
        F.sum("cvw").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    nr = bi.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n1r"))
    tt = bi.agg(F.count(F.lit(1)).cast("long").alias("tt"))
    te = (
        bg.filter(F.col("is_test"))
        .join(F.broadcast(bi), ["v", "w"], "left")
        .join(F.broadcast(cv), "v", "left")
        .join(F.broadcast(nr), "w", "left")
        .crossJoin(F.broadcast(tt))
    )
    pcont = F.coalesce(F.col("n1r"), F.lit(0)) * 1.0 / F.col("tt")
    pr = F.when(F.col("c1").isNull(), pcont).otherwise(
        F.greatest(F.coalesce(F.col("cvw"), F.lit(0)) - 0.75, F.lit(0.0))
        / F.col("c1")
        + 0.75 * F.col("n1f") / F.col("c1") * pcont
    )
    lp = F.log(F.greatest(pr, F.lit(1e-10)))
    return te.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_bigrams"),
        F.round(
            F.avg(F.when(F.col("c1").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("oov_context_rate"),
        F.round(
            F.avg(F.when(F.col("n1r").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("oov_word_rate"),
        F.round(F.sum(lp) / F.count(F.lit(1)), 6).alias("mean_logprob"),
        F.round(F.exp(-F.sum(lp) / F.count(F.lit(1))), 4).alias("perplexity"),
    )


# =====================================================================
# Round-6 third wave, part 5: Platt calibration (2-param Newton on the
# shared expression text), shifted-beta-geometric churn fit (grid MLE
# on the shared lgamma text — the Fader-Hardie CLV canon), query-
# likelihood Dirichlet retrieval (the LM twin of BM25), and
# Good-Turing frequency-of-frequency smoothing.
# =====================================================================

_PLATT_P = "1e0 / (1e0 + exp(-(pa * x + pb)))"
_PLATT_SUMS = (
    f"sum((sy - n * {_PLATT_P}) * x) AS g1, "
    f"sum(sy - n * {_PLATT_P}) AS g2, "
    f"sum(n * {_PLATT_P} * (1e0 - {_PLATT_P}) * x * x) AS h11, "
    f"sum(n * {_PLATT_P} * (1e0 - {_PLATT_P}) * x) AS h12, "
    f"sum(n * {_PLATT_P} * (1e0 - {_PLATT_P})) AS h22"
)


def _duck_platt_sql(rounds: int = 8) -> str:
    ctes = [
        """scored AS MATERIALIZED (
        SELECT 1e0 / (1e0 + exp(-(c.c_acctbal / 5000e0))) AS x,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    d AS MATERIALIZED (
        SELECT x, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy
        FROM scored GROUP BY x),
    p0_ AS (SELECT 0e0 AS pa, 0e0 AS pb)"""
    ]
    prev = "p0_"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""p{t}_ AS (
            SELECT pa + (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12)
                       AS pa,
                   pb + (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12)
                       AS pb
            FROM (SELECT max(pa) AS pa, max(pb) AS pb, {_PLATT_SUMS}
                  FROM d, {prev}))"""
        )
        prev = f"p{t}_"
    ctes.append(
        f"""fin AS (
        SELECT max(pa) AS a, max(pb) AS b,
               CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(sy) AS BIGINT) AS n_pos,
               -sum(sy * ln({_PLATT_P})
                    + (n - sy) * ln(1e0 - {_PLATT_P})) / sum(n) AS logloss
        FROM d, {prev})"""
    )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT n_pos, n_all - n_pos AS n_neg,
           round(a, 6) AS a, round(b, 6) AS b,
           round(logloss, 6) AS logloss
    FROM fin
    """


@query("platt_calibration_scores", _duck_platt_sql())
def platt_calibration_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (Platt 1999) of the account-balance scoring rule
    against the has-orders label: fit sigmoid(a*x + b) by 8 unrolled
    Newton steps on the exact logistic log-likelihood, the 2x2
    Hessian solved in closed form. This is the FIT stage the
    calibration family was missing (calibration_reliability_bins and
    isotonic_calibration_bins only AUDIT calibration; this repairs
    it). Sufficient statistics are grouped once to the distinct-score
    frame; each Newton step is one 5-sum aggregation over it against
    a 1-row broadcast parameter frame — the identical iterative shape
    as cox_ph_conversion, sharing the engine-shared expression text
    so the oracle replays every step."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0))))
        .alias("x"),
        F.col("o_custkey").isNotNull().cast("int").alias("y"),
    )
    d = scored.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    ).persist()
    pdf = d.limit(1).select(F.lit(0.0).alias("pa"), F.lit(0.0).alias("pb"))
    for _ in range(8):
        s = d.crossJoin(F.broadcast(pdf)).agg(
            F.max("pa").alias("pa"),
            F.max("pb").alias("pb"),
            *[
                F.expr(part.rsplit(" AS ", 1)[0]).alias(
                    part.rsplit(" AS ", 1)[1]
                )
                for part in _PLATT_SUMS.split(", ")
            ],
        )
        det = F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        pdf = s.select(
            (
                F.col("pa")
                + (F.col("h22") * F.col("g1") - F.col("h12") * F.col("g2")) / det
            ).alias("pa"),
            (
                F.col("pb")
                + (F.col("h11") * F.col("g2") - F.col("h12") * F.col("g1")) / det
            ).alias("pb"),
        )
    fin = d.crossJoin(F.broadcast(pdf)).agg(
        F.max("pa").alias("a"),
        F.max("pb").alias("b"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum("sy").cast("long").alias("n_pos"),
        (
            -F.sum(
                F.col("sy") * F.expr(f"ln({_PLATT_P})")
                + (F.col("n") - F.col("sy")) * F.expr(f"ln(1e0 - {_PLATT_P})")
            )
            / F.sum("n")
        ).alias("logloss"),
    )
    return fin.select(
        "n_pos",
        (F.col("n_all") - F.col("n_pos")).alias("n_neg"),
        F.round("a", 6).alias("a"),
        F.round("b", 6).alias("b"),
        F.round("logloss", 6).alias("logloss"),
    )


_SBG_LBETA = (
    lambda x, y: f"({_lgamma_sql(x)} + {_lgamma_sql(y)}"
    f" - {_lgamma_sql(f'({x}) + ({y})')})"
)
_SBG_LP = (
    f"({_SBG_LBETA('al + 1e0', 'be + t - 1e0')} - {_SBG_LBETA('al', 'be')})"
)
_SBG_LS = f"({_SBG_LBETA('al', 'be + t')} - {_SBG_LBETA('al', 'be')})"


@query(
    "sbg_churn_fit",
    f"""
    WITH bounds AS (SELECT CAST(max(ts) AS DATE) AS obs_end FROM events),
    pu AS MATERIALIZED (
        SELECT CAST(date_diff('day', CAST(min(ts) AS DATE),
                              CAST(max(ts) AS DATE)) // 7 + 1 AS BIGINT)
                   AS t,
               CASE WHEN date_diff('day', CAST(max(ts) AS DATE),
                                   (SELECT obs_end FROM bounds)) > 7
                    THEN 1 ELSE 0 END AS churned
        FROM events GROUP BY user_id),
    byt AS MATERIALIZED (
        SELECT t, CAST(sum(churned) AS BIGINT) AS n_churn,
               CAST(count(*) - sum(churned) AS BIGINT) AS n_cens
        FROM pu GROUP BY t),
    grid AS (
        SELECT ga.g * 25e-2 AS al, gb.g * 25e-2 AS be
        FROM (SELECT unnest(generate_series(1, 20)) AS g) ga,
             (SELECT unnest(generate_series(1, 20)) AS g) gb),
    ll AS (
        SELECT al, be,
               sum(n_churn * {_SBG_LP} + n_cens * {_SBG_LS}) AS loglik
        FROM byt, grid GROUP BY al, be),
    best AS (SELECT al, be, loglik FROM ll
             ORDER BY loglik DESC, al, be LIMIT 1)
    SELECT round(al, 2) AS alpha, round(be, 2) AS beta,
           round(loglik, 6) AS loglik,
           round(exp({_SBG_LS.replace('t', '1e0')}), 6) AS retention_1,
           round(exp({_SBG_LS.replace('t', '2e0')}), 6) AS retention_2,
           round(exp({_SBG_LS.replace('t', '3e0')}), 6) AS retention_3
    FROM best
    """,
)
def sbg_churn_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted-beta-geometric churn model (Fader & Hardie 2007, 'How
    to project customer retention') fit by exact grid MLE: each user's
    active lifetime in weeks is churned (last event > 7 days before
    the observation end) or censored; P(T=t) = B(a+1, b+t-1)/B(a,b)
    and S(t) = B(a, b+t)/B(a,b) score a 20x20 (alpha, beta) grid on
    the engine-shared lgamma text, argmax by (loglik, a, b). The sBG
    is THE standard contractual-churn projection behind CLV decks —
    the parametric upgrade of retention_cohorts (empirical curve) and
    kaplan_meier_conversion (nonparametric survival). One corpus pass
    builds the per-week (n_churn, n_cens) frame (calendar-bounded);
    the 400-cell likelihood surface is pure bounded arithmetic."""
    evt = _t(spark, sf_dir, "events")
    bounds = evt.agg(F.max(F.col("ts").cast("date")).alias("obs_end"))
    pu = (
        evt.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_d"),
            F.max(F.col("ts").cast("date")).alias("last_d"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            (F.floor(F.datediff("last_d", "first_d") / 7) + 1)
            .cast("long")
            .alias("t"),
            (F.datediff("obs_end", "last_d") > 7).cast("int").alias("churned"),
        )
    )
    byt = pu.groupBy("t").agg(
        F.sum("churned").cast("long").alias("n_churn"),
        (F.count(F.lit(1)) - F.sum("churned")).cast("long").alias("n_cens"),
    ).persist()
    grid = (
        byt.limit(1)
        .select(F.explode(F.sequence(F.lit(1), F.lit(20))).alias("ga"))
        .select("ga", F.explode(F.sequence(F.lit(1), F.lit(20))).alias("gb"))
        .select(
            (F.col("ga") * 0.25).alias("al"), (F.col("gb") * 0.25).alias("be")
        )
    )
    ll = (
        byt.crossJoin(F.broadcast(grid))
        .groupBy("al", "be")
        .agg(
            F.sum(
                F.col("n_churn") * F.expr(_SBG_LP)
                + F.col("n_cens") * F.expr(_SBG_LS)
            ).alias("loglik")
        )
    )
    best = ll.orderBy(F.col("loglik").desc(), "al", "be").limit(1)
    return best.select(
        F.round("al", 2).alias("alpha"),
        F.round("be", 2).alias("beta"),
        F.round("loglik", 6).alias("loglik"),
        F.round(F.exp(F.expr(_SBG_LS.replace("t", "1e0"))), 6).alias(
            "retention_1"
        ),
        F.round(F.exp(F.expr(_SBG_LS.replace("t", "2e0"))), 6).alias(
            "retention_2"
        ),
        F.round(F.exp(F.expr(_SBG_LS.replace("t", "3e0"))), 6).alias(
            "retention_3"
        ),
    )


_QL_MU = 100.0
_QL_TERMS = ("spark", "join", "fast")


@query(
    "ql_dirichlet_search_docs",
    f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents),
    dl AS MATERIALIZED (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok
        GROUP BY doc_id),
    ctot AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM tok),
    cf AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS cf FROM tok
        WHERE t IN ({", ".join(f"'{w}'" for w in _QL_TERMS)})
        GROUP BY t),
    tf AS MATERIALIZED (
        SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok
        WHERE t IN ({", ".join(f"'{w}'" for w in _QL_TERMS)})
        GROUP BY doc_id, t),
    cand AS (SELECT DISTINCT doc_id FROM tf),
    scored AS (
        SELECT cand.doc_id,
               sum(ln((coalesce(tf.tf, 0) + {_QL_MU} * cf.cf
                       / (SELECT ctot FROM ctot))
                      / (dl.dl + {_QL_MU}))) AS s
        FROM cand
        CROSS JOIN cf
        LEFT JOIN tf ON tf.doc_id = cand.doc_id AND tf.t = cf.t
        JOIN dl ON dl.doc_id = cand.doc_id
        GROUP BY cand.doc_id)
    SELECT doc_id, round(s, 6) AS ql_score FROM scored
    ORDER BY round(s, 6) DESC, doc_id LIMIT 10
    """,
)
def ql_dirichlet_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet-prior smoothing
    (Zhai & Lafferty, SIGIR'01; mu = 100): score(d) = sum over query
    terms of ln((tf + mu*P(t|C)) / (|d| + mu)) for the fixed query
    {{spark, join, fast}} — the LANGUAGE-MODEL ranking twin of
    bm25_search_docs (probabilistic relevance) and
    hybrid_rrf_search_docs (fusion). Missing query terms still
    contribute their smoothed mass, so candidates (docs matching ANY
    term — postings-bounded, never the corpus) cross the 3-term query
    grid and left-join their tf. All model tables are postings- or
    1-row-sized broadcasts; ranking is a TakeOrdered heap on the
    rounded score with a doc_id tie-break."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ptx.tokens("text")).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    ctot = tok.agg(F.count(F.lit(1)).cast("long").alias("ctot"))
    cf = (
        tok.filter(F.col("t").isin(list(_QL_TERMS)))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    tf = (
        tok.filter(F.col("t").isin(list(_QL_TERMS)))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cand = tf.select("doc_id").distinct()
    scored = (
        cand.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "t"], "left")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ctot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + _QL_MU * F.col("cf") / F.col("ctot")
                    )
                    / (F.col("dl") + _QL_MU)
                )
            ).alias("s")
        )
    )
    return (
        scored.select("doc_id", F.round("s", 6).alias("ql_score"))
        .orderBy(F.col("ql_score").desc(), "doc_id")
        .limit(10)
    )


@query(
    "good_turing_counts",
    f"""
    WITH tok AS (
        SELECT unnest({_DUCK_TOKS}) AS t FROM documents),
    cnt AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    fof AS MATERIALIZED (
        SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM cnt GROUP BY c)
    SELECT a.r, a.n_r,
           coalesce(b.n_r, 0) AS n_r_plus_1,
           CASE WHEN b.n_r IS NOT NULL
                THEN round((a.r + 1e0) * b.n_r / a.n_r, 6) END AS r_star,
           round((SELECT n_r FROM fof WHERE r = 1) * 1e0
                 / (SELECT n FROM tot), 6) AS p_unseen
    FROM fof a LEFT JOIN fof b ON b.r = a.r + 1
    WHERE a.r <= 10 ORDER BY a.r
    """,
)
def good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequency smoothing over the token
    unigram counts: adjusted count r* = (r+1)·N_{{r+1}}/N_r for the
    count head r <= 10, plus the leave-one-out unseen mass
    p0 = N_1/N — the third member of the LM-smoothing family next to
    kneser_ney_bigram_docs (continuation counts) and
    bigram_logprob_docs (interpolation), and the estimator behind
    every 'how much tail have we not crawled yet' coverage question
    (vocab_coverage / heaps_law are its corpus-growth companions).
    One token-count aggregation is corpus-sized; the
    frequency-of-frequency frame is count-head-sized and self-joins
    at r+1."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(ptx.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n"))
    fof = cnt.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    ).persist()
    n1 = fof.filter(F.col("r") == 1).select(F.col("n_r").alias("n1"))
    b = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        fof.filter(F.col("r") <= 10)
        .join(b, "r", "left")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.coalesce("n_r1", F.lit(0)).alias("n_r_plus_1"),
            F.when(
                F.col("n_r1").isNotNull(),
                F.round((F.col("r") + 1.0) * F.col("n_r1") / F.col("n_r"), 6),
            ).alias("r_star"),
            F.round(F.col("n1") * 1.0 / F.col("n"), 6).alias("p_unseen"),
        )
        .orderBy("r")
    )


# =====================================================================
# Round-6 third wave, part 6: counterfactual policy evaluation
# (IPS / direct method / doubly robust), top-down hierarchical
# forecast reconciliation, 2-component Gaussian-mixture EM, and the
# Fader-Hardie gamma-gamma monetary model — the off-policy,
# coherent-forecast, soft-clustering, and CLV-spend members their
# families were missing.
# =====================================================================

@query(
    "ips_policy_eval",
    f"""
    WITH pu AS MATERIALIZED (
        SELECT user_id,
               {_DUCK_H60.format(args="CAST(user_id AS VARCHAR), 'arm'")} % 3
                   AS arm,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS reward,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) % 3
                    AS BIGINT) AS pi_arm
        FROM events GROUP BY user_id),
    dm AS MATERIALIZED (
        SELECT arm, avg(reward) AS qhat FROM pu GROUP BY arm),
    j AS (
        SELECT pu.reward, pu.arm, pu.pi_arm, dmp.qhat AS q_pi,
               CASE WHEN pu.arm = pu.pi_arm THEN 1e0 ELSE 0e0 END AS m
        FROM pu JOIN dm dmp ON dmp.arm = pu.pi_arm)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(reward), 6) AS logged_value,
           round(avg(m * reward * 3e0), 6) AS ips_value,
           round(avg(q_pi), 6) AS dm_value,
           round(avg(q_pi + m * 3e0 * (reward - q_pi)), 6) AS dr_value
    FROM j
    """,
)
def ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual (off-policy) evaluation of a deterministic
    target policy from logged uniform-random exposure — the replay
    method of Li et al. (WSDM'11) generalized to the standard
    estimator triple: IPS (unbiased, high variance), direct method
    (per-arm reward model, biased if the model is), and DOUBLY ROBUST
    (Dudík et al., ICML'11 — unbiased if EITHER is right). Logged arm
    = replayable h60 coin over user_id (propensity exactly 1/3);
    target policy pi(u) = clicks(u) mod 3 — a feature-dependent rule
    both engines replay; reward = converted. This is the A/B-test
    companion nobody can run online: what WOULD the other targeting
    rule have earned. One per-user rollup (corpus pass), a 3-row
    reward model broadcast back, then one aggregate."""
    evt = _t(spark, sf_dir, "events")
    pu = evt.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("reward"),
        (F.sum((F.col("event_type") == "click").cast("int")) % 3)
        .cast("long")
        .alias("pi_arm"),
    ).select(
        "*",
        (mls.hash60(F.col("user_id").cast("string"), F.lit("arm")) % 3).alias(
            "arm"
        ),
    )
    dm = pu.groupBy("arm").agg(F.avg("reward").alias("qhat"))
    j = pu.join(
        F.broadcast(dm.select(F.col("arm").alias("pi_arm"), F.col("qhat"))),
        "pi_arm",
    ).select(
        "reward",
        F.col("qhat").alias("q_pi"),
        F.when(F.col("arm") == F.col("pi_arm"), 1.0).otherwise(0.0).alias("m"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("reward"), 6).alias("logged_value"),
        F.round(F.avg(F.col("m") * F.col("reward") * 3.0), 6).alias("ips_value"),
        F.round(F.avg("q_pi"), 6).alias("dm_value"),
        F.round(
            F.avg(
                F.col("q_pi") + F.col("m") * 3.0 * (F.col("reward") - F.col("q_pi"))
            ),
            6,
        ).alias("dr_value"),
    )


@query(
    "hierarchical_forecast_reconciliation",
    """
    -- integer-cents rollup (r8, the huber lesson): every forecast
    -- and share derives from exact BIGINT cent sums through one
    -- fixed float expression, so the rounded outputs are engine-
    -- identical at any magnitude (the pre-r8 FLOAT revenue sums
    -- rounded at 6dp were the r7 hazard class).
    WITH daily AS MATERIALIZED (
        SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS d,
               CAST(round(sum(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, CAST(o.o_orderdate AS DATE)),
    cutoff AS (SELECT max(d) AS mx FROM daily),
    base AS MATERIALIZED (
        SELECT region,
               CAST(sum(CASE WHEN d > (SELECT mx FROM cutoff) - 7
                        THEN cents ELSE 0 END) AS BIGINT) AS c7,
               CAST(sum(CASE WHEN d > (SELECT mx FROM cutoff) - 28
                        THEN cents ELSE 0 END) AS BIGINT) AS c28
        FROM daily GROUP BY region),
    top_ AS (SELECT CAST(sum(c28) AS BIGINT) AS c28_all FROM base),
    tot_daily AS (
        SELECT CAST(sum(cents) AS BIGINT) AS c7_all FROM daily
        WHERE d > (SELECT mx FROM cutoff) - 7)
    SELECT b.region,
           round(CAST(b.c7 AS DOUBLE) / 7e0 / 100e0, 6) AS base_forecast,
           round(CAST(b.c28 AS DOUBLE) / t.c28_all, 6) AS share_28d,
           round((CAST(td.c7_all AS DOUBLE) / 7e0 / 100e0)
                 * (CAST(b.c28 AS DOUBLE) / t.c28_all), 6)
               AS reconciled_forecast
    FROM base b, top_ t, tot_daily td
    ORDER BY b.region
    """,
)
def hierarchical_forecast_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-down hierarchical forecast reconciliation (Hyndman et al.,
    'Optimal combination' family's baseline): per-region next-day
    forecasts (7-day moving average) are incoherent with the total's
    own forecast — the totals don't add up, the classic BI failure —
    so the TOP forecast is disaggregated by each region's trailing
    28-day revenue share, making the hierarchy coherent BY
    CONSTRUCTION (sum of reconciled == top forecast, pinned in
    tests). One corpus rollup to (region, day); everything after is
    region-count-sized. The time-series twins are holt/croston
    (single series) — this is the many-series coherence layer a
    100 TB revenue mart actually publishes. r8: integer-cents
    sufficient statistics end-to-end (the r7 huber lesson — FLOAT
    money sums rounded at 6dp flip across engines); every output is
    one fixed float expression over exact BIGINTs."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
        )
        .persist()
    )
    cutoff = daily.agg(F.max("d").alias("mx"))
    base = (
        daily.crossJoin(F.broadcast(cutoff))
        .groupBy("region")
        .agg(
            F.sum(
                F.when(
                    F.col("d") > F.date_sub(F.col("mx"), 7), F.col("cents")
                ).otherwise(0)
            ).cast("long").alias("c7"),
            F.sum(
                F.when(
                    F.col("d") > F.date_sub(F.col("mx"), 28), F.col("cents")
                ).otherwise(0)
            ).cast("long").alias("c28"),
        )
    )
    top = base.agg(F.sum("c28").cast("long").alias("c28_all"))
    tot_daily = (
        daily.crossJoin(F.broadcast(cutoff))
        .filter(F.col("d") > F.date_sub(F.col("mx"), 7))
        .agg(F.sum("cents").cast("long").alias("c7_all"))
    )
    # one fixed float expression per output, same op order as the
    # oracle, over exact BIGINTs — identical doubles by construction
    return (
        base.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(tot_daily))
        .select(
            "region",
            F.round(
                F.col("c7").cast("double") / 7.0 / 100.0, 6
            ).alias("base_forecast"),
            F.round(
                F.col("c28").cast("double") / F.col("c28_all"), 6
            ).alias("share_28d"),
            F.round(
                (F.col("c7_all").cast("double") / 7.0 / 100.0)
                * (F.col("c28").cast("double") / F.col("c28_all")),
                6,
            ).alias("reconciled_forecast"),
        )
        .orderBy("region")
    )


_EM_C = "3.989422804014327e-1"  # 1/sqrt(2*pi)
_EM_D1 = "exp(-((y - mu1) * (y - mu1)) / (2e0 * s1 * s1)) / s1"
_EM_D2 = "exp(-((y - mu2) * (y - mu2)) / (2e0 * s2 * s2)) / s2"
_EM_R2 = f"(p * ({_EM_D2})) / (p * ({_EM_D2}) + (1e0 - p) * ({_EM_D1}))"


def _duck_em_sql(rounds: int = 4) -> str:
    ctes = [
        """yy AS MATERIALIZED (
        SELECT ln(o_totalprice) AS y FROM orders WHERE o_totalprice > 0),
    mom AS (
        SELECT avg(y) AS m,
               sqrt(sum(y * y) / count(*) - avg(y) * avg(y)) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM yy),
    g0 AS (SELECT m - s AS mu1, m + s AS mu2, s AS s1, s AS s2,
                  5e-1 AS p, n FROM mom)"""
    ]
    prev = "g0"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""g{t} AS (
            SELECT sy2 / n2 AS mu2, sy1 / n1 AS mu1,
                   sqrt(greatest(syy2 / n2 - (sy2 / n2) * (sy2 / n2),
                                 1e-12)) AS s2,
                   sqrt(greatest(syy1 / n1 - (sy1 / n1) * (sy1 / n1),
                                 1e-12)) AS s1,
                   n2 / n AS p, n
            FROM (
                SELECT max(n) AS n,
                       sum({_EM_R2}) AS n2, sum(({_EM_R2}) * y) AS sy2,
                       sum(({_EM_R2}) * y * y) AS syy2,
                       sum(1e0 - ({_EM_R2})) AS n1,
                       sum((1e0 - ({_EM_R2})) * y) AS sy1,
                       sum((1e0 - ({_EM_R2})) * y * y) AS syy1
                FROM yy, {prev}))"""
        )
        prev = f"g{t}"
    ctes.append(
        f"""fin AS (
        SELECT max(mu1) AS mu1, max(mu2) AS mu2, max(s1) AS s1,
               max(s2) AS s2, max(p) AS p,
               sum(ln({_EM_C} * (p * ({_EM_D2}) + (1e0 - p) * ({_EM_D1}))))
                   AS loglik
        FROM yy, {prev})"""
    )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT round(p, 6) AS pi2, round(mu1, 6) AS mu1,
           round(mu2, 6) AS mu2, round(s1, 6) AS sigma1,
           round(s2, 6) AS sigma2, round(loglik, 4) AS loglik
    FROM fin
    """


@query("em_gaussian_mixture_price", _duck_em_sql())
def em_gaussian_mixture_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian-mixture EM on log order value — the
    SOFT-assignment clustering member next to kmeans_embeddings
    (hard assignment) and the canonical latent-variable fit
    (Dempster-Laird-Rubin): 4 unrolled EM rounds from a deterministic
    moment init (mu = m -/+ s), each round ONE 6-sum aggregation over
    the corpus against a 1-row broadcast parameter frame, with
    responsibilities as shared expression text so the oracle replays
    every round bit-compatibly. Variance floors (1e-12) guard
    component collapse. The final log-likelihood rides along —
    monotone non-decreasing across EM rounds, pinned in tests."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    yy = o.select(F.log("o_totalprice").alias("y")).persist()
    mom = yy.agg(
        F.avg("y").alias("m"),
        F.sqrt(
            F.sum(F.col("y") * F.col("y")) / F.count(F.lit(1))
            - F.avg("y") * F.avg("y")
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    g = mom.select(
        (F.col("m") - F.col("s")).alias("mu1"),
        (F.col("m") + F.col("s")).alias("mu2"),
        F.col("s").alias("s1"),
        F.col("s").alias("s2"),
        F.lit(0.5).alias("p"),
        "n",
    )
    for _ in range(4):
        s = yy.crossJoin(F.broadcast(g)).agg(
            F.max("n").alias("n"),
            F.sum(F.expr(_EM_R2)).alias("n2"),
            F.sum(F.expr(f"({_EM_R2}) * y")).alias("sy2"),
            F.sum(F.expr(f"({_EM_R2}) * y * y")).alias("syy2"),
            F.sum(F.expr(f"1e0 - ({_EM_R2})")).alias("n1"),
            F.sum(F.expr(f"(1e0 - ({_EM_R2})) * y")).alias("sy1"),
            F.sum(F.expr(f"(1e0 - ({_EM_R2})) * y * y")).alias("syy1"),
        )
        g = s.select(
            (F.col("sy1") / F.col("n1")).alias("mu1"),
            (F.col("sy2") / F.col("n2")).alias("mu2"),
            F.sqrt(
                F.greatest(
                    F.col("syy1") / F.col("n1")
                    - (F.col("sy1") / F.col("n1")) * (F.col("sy1") / F.col("n1")),
                    F.lit(1e-12),
                )
            ).alias("s1"),
            F.sqrt(
                F.greatest(
                    F.col("syy2") / F.col("n2")
                    - (F.col("sy2") / F.col("n2")) * (F.col("sy2") / F.col("n2")),
                    F.lit(1e-12),
                )
            ).alias("s2"),
            (F.col("n2") / F.col("n")).alias("p"),
            "n",
        )
    fin = yy.crossJoin(F.broadcast(g)).agg(
        F.max("mu1").alias("mu1"),
        F.max("mu2").alias("mu2"),
        F.max("s1").alias("s1"),
        F.max("s2").alias("s2"),
        F.max("p").alias("p"),
        F.sum(
            F.expr(f"ln({_EM_C} * (p * ({_EM_D2}) + (1e0 - p) * ({_EM_D1})))")
        ).alias("loglik"),
    )
    return fin.select(
        F.round("p", 6).alias("pi2"),
        F.round("mu1", 6).alias("mu1"),
        F.round("mu2", 6).alias("mu2"),
        F.round("s1", 6).alias("sigma1"),
        F.round("s2", 6).alias("sigma2"),
        F.round("loglik", 4).alias("loglik"),
    )


_GG_LL = (
    f"({_lgamma_sql('p * x + q')} - {_lgamma_sql('p * x')}"
    f" - {_lgamma_sql('q')} + q * ln(g) + (p * x - 1e0) * ln(zbar)"
    f" + p * x * ln(x) - (p * x + q) * ln(g + x * zbar))"
)


@query(
    "gamma_gamma_spend_fit",
    f"""
    WITH cust AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS xc, avg(o_totalprice) AS zbar
        FROM orders GROUP BY o_custkey),
    mz AS (SELECT avg(zbar) AS mz FROM cust),
    grid AS (
        SELECT gp.g * 5e-1 AS p, 1e0 + gq.g * 5e-1 AS q,
               gg.g * (SELECT mz FROM mz) / 2e0 AS g
        FROM (SELECT unnest(generate_series(1, 5)) AS g) gp,
             (SELECT unnest(generate_series(1, 5)) AS g) gq,
             (SELECT unnest(generate_series(1, 5)) AS g) gg),
    ll AS (
        SELECT p, q, g,
               sum({_GG_LL.replace('x', '(xc * 1e0)')}) AS loglik
        FROM cust, grid GROUP BY p, q, g),
    best AS (SELECT p, q, g, loglik FROM ll
             ORDER BY loglik DESC, p, q, g LIMIT 1)
    SELECT round(p, 6) AS p, round(q, 6) AS q, round(g, 6) AS g,
           round(loglik, 4) AS loglik,
           round(p * g / (q - 1e0), 4) AS expected_spend
    FROM best
    """,
)
def gamma_gamma_spend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma-gamma monetary-value model (Fader, Hardie & Lee 2005 —
    the spend half of the CLV canon, pairing with sbg_churn_fit's
    lifetime half): per-customer (x orders, mean spend zbar) are
    scored over a 5x5x5 (p, q, gamma) grid — gamma data-scaled to
    the mean spend so the grid brackets any currency — on the
    engine-shared lgamma text; argmax by (loglik, p, q, gamma);
    E[spend] = p*gamma/(q-1) reported. One corpus rollup to the
    customer frame; 125 bounded-arithmetic likelihood cells; the
    same grid-MLE shape as sbg_churn_fit, replayed exactly by the
    oracle."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("xc"),
        F.avg("o_totalprice").alias("zbar"),
    ).persist()
    mz = cust.agg(F.avg("zbar").alias("mz"))
    grid = (
        cust.limit(1)
        .crossJoin(F.broadcast(mz))
        .select(
            "mz", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("gp")
        )
        .select(
            "mz", "gp", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("gq")
        )
        .select(
            "mz", "gp", "gq",
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("gg"),
        )
        .select(
            (F.col("gp") * 0.5).alias("p"),
            (1.0 + F.col("gq") * 0.5).alias("q"),
            (F.col("gg") * F.col("mz") / 2.0).alias("g"),
        )
    )
    ll_expr = _GG_LL.replace("x", "(xc * 1e0)")
    ll = (
        cust.crossJoin(F.broadcast(grid))
        .groupBy("p", "q", "g")
        .agg(F.sum(F.expr(ll_expr)).alias("loglik"))
    )
    best = ll.orderBy(F.col("loglik").desc(), "p", "q", "g").limit(1)
    return best.select(
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round("g", 6).alias("g"),
        F.round("loglik", 4).alias("loglik"),
        F.round(F.col("p") * F.col("g") / (F.col("q") - 1.0), 4).alias(
            "expected_spend"
        ),
    )


# =====================================================================
# Round-6 third wave, part 7: Fellegi-Sunter record-linkage EM (the
# probabilistic-matching theory behind every MDM/identity-resolution
# product), Aalen-Johansen competing-risks incidence, Fiedler spectral
# coordinates, and panel fixed-effects elasticity.
# =====================================================================

_FS_W = (
    "pm"
    " * (CASE WHEN g1 = 1 THEN m1 ELSE 1e0 - m1 END)"
    " * (CASE WHEN g2 = 1 THEN m2 ELSE 1e0 - m2 END)"
    " * (CASE WHEN g3 = 1 THEN m3 ELSE 1e0 - m3 END)"
    " / (pm"
    " * (CASE WHEN g1 = 1 THEN m1 ELSE 1e0 - m1 END)"
    " * (CASE WHEN g2 = 1 THEN m2 ELSE 1e0 - m2 END)"
    " * (CASE WHEN g3 = 1 THEN m3 ELSE 1e0 - m3 END)"
    " + (1e0 - pm)"
    " * (CASE WHEN g1 = 1 THEN u1 ELSE 1e0 - u1 END)"
    " * (CASE WHEN g2 = 1 THEN u2 ELSE 1e0 - u2 END)"
    " * (CASE WHEN g3 = 1 THEN u3 ELSE 1e0 - u3 END))"
)
_FS_PAIR_H60 = _DUCK_H60.format(
    args="CAST(a.c_custkey AS VARCHAR) || '-' || CAST(b.c_custkey AS VARCHAR)"
    ", 'fs'"
)


def _duck_fs_sql(rounds: int = 6) -> str:
    ctes = [
        f"""cp AS MATERIALIZED (
        SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 500
                    THEN 1 ELSE 0 END AS g2,
               CASE WHEN a.c_custkey % 10 = b.c_custkey % 10
                    THEN 1 ELSE 0 END AS g3
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        WHERE {_FS_PAIR_H60} % 10 < 3),
    pat AS MATERIALIZED (
        SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
        FROM cp GROUP BY g1, g2, g3),
    e0_ AS (SELECT 1e-1 AS pm, 9e-1 AS m1, 9e-1 AS m2, 9e-1 AS m3,
                   5e-1 AS u1, 5e-1 AS u2, 5e-1 AS u3)"""
    ]
    prev = "e0_"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""e{t}_ AS (
            SELECT sum(w * n) / sum(n) AS pm,
                   sum(w * n * g1) / sum(w * n) AS m1,
                   sum(w * n * g2) / sum(w * n) AS m2,
                   sum(w * n * g3) / sum(w * n) AS m3,
                   sum((1e0 - w) * n * g1) / sum((1e0 - w) * n) AS u1,
                   sum((1e0 - w) * n * g2) / sum((1e0 - w) * n) AS u2,
                   sum((1e0 - w) * n * g3) / sum((1e0 - w) * n) AS u3
            FROM (SELECT g1, g2, g3, n, {_FS_W} AS w FROM pat, {prev}))"""
        )
        prev = f"e{t}_"
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT (SELECT CAST(sum(n) AS BIGINT) FROM pat) AS n_pairs,
           round(pm, 6) AS p_match,
           round(m1, 6) AS m1, round(m2, 6) AS m2, round(m3, 6) AS m3,
           round(u1, 6) AS u1, round(u2, 6) AS u2, round(u3, 6) AS u3
    FROM {prev}
    """


@query("fellegi_sunter_em", _duck_fs_sql())
def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) fit by
    EM (Winkler 1988): nation-blocked, h60-thinned customer pairs are
    reduced to 3-bit agreement patterns (segment match / balance
    within 500 / key-digit match), and the 8-row PATTERN frame — not
    the pairs — carries 6 EM rounds estimating P(match) and the
    per-field m/u probabilities whose log-ratios are the match
    weights every MDM / identity-resolution engine scores with. This
    is the PROBABILISTIC upgrade of entity_resolution_names
    (deterministic threshold): one blocked in-block self-join builds
    the comparison stream (never all-pairs), one aggregation
    collapses it to 8 sufficient rows, and EM is bounded arithmetic
    the oracle replays verbatim."""
    c = _t(spark, sf_dir, "customer")
    # r9 perf: the blocked self-join auto-broadcasts the build side, so
    # the ~|block|^2/2 pair fan-out and its md5 thinning hash ran
    # inside the 1-3-task scan stage (single-row-group parquet).
    # Repartition the probe side to defaultParallelism so every core
    # hashes; at cluster scale the scan splits already parallelize and
    # the slim exchange is noise. Cold interleaved A/B at sf0.1:
    # 1.91x med (8.54s -> 4.46s).
    a = c.select(
        F.col("c_custkey").alias("ik"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sa"),
        F.col("c_acctbal").alias("ba"),
    ).repartition(spark.sparkContext.defaultParallelism)
    b = c.select(
        F.col("c_custkey").alias("jk"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sb"),
        F.col("c_acctbal").alias("bb"),
    )
    cp = (
        a.join(F.broadcast(b), "nk")
        .filter(F.col("ik") < F.col("jk"))
        .filter(
            mls.hash60(F.format_string("%d-%d", "ik", "jk"), F.lit("fs")) % 10
            < 3
        )
        .select(
            (F.col("sa") == F.col("sb")).cast("int").alias("g1"),
            (F.abs(F.col("ba") - F.col("bb")) < 500).cast("int").alias("g2"),
            (F.col("ik") % 10 == F.col("jk") % 10).cast("int").alias("g3"),
        )
    )
    pat = cp.groupBy("g1", "g2", "g3").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()
    e = pat.limit(1).select(
        F.lit(0.1).alias("pm"),
        F.lit(0.9).alias("m1"), F.lit(0.9).alias("m2"), F.lit(0.9).alias("m3"),
        F.lit(0.5).alias("u1"), F.lit(0.5).alias("u2"), F.lit(0.5).alias("u3"),
    )
    for _ in range(6):
        wdf = pat.crossJoin(F.broadcast(e)).select(
            "g1", "g2", "g3", "n", F.expr(_FS_W).alias("w")
        )
        e = wdf.agg(
            (F.sum(F.col("w") * F.col("n")) / F.sum("n")).alias("pm"),
            *[
                (
                    F.sum(F.col("w") * F.col("n") * F.col(f"g{i}"))
                    / F.sum(F.col("w") * F.col("n"))
                ).alias(f"m{i}")
                for i in (1, 2, 3)
            ],
            *[
                (
                    F.sum((1.0 - F.col("w")) * F.col("n") * F.col(f"g{i}"))
                    / F.sum((1.0 - F.col("w")) * F.col("n"))
                ).alias(f"u{i}")
                for i in (1, 2, 3)
            ],
        )
    n_pairs = pat.agg(F.sum("n").cast("long").alias("n_pairs"))
    return n_pairs.crossJoin(F.broadcast(e)).select(
        "n_pairs",
        F.round("pm", 6).alias("p_match"),
        F.round("m1", 6).alias("m1"),
        F.round("m2", 6).alias("m2"),
        F.round("m3", 6).alias("m3"),
        F.round("u1", 6).alias("u1"),
        F.round("u2", 6).alias("u2"),
        F.round("u3", 6).alias("u3"),
    )


@query(
    "competing_risks_cif",
    """
    WITH bounds AS (SELECT CAST(max(ts) AS DATE) AS obs_end FROM events),
    pu AS MATERIALIZED (
        SELECT user_id, min(ts) AS first_ts,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts,
               min(CASE WHEN event_type = 'click' THEN ts END) AS c_ts
        FROM events GROUP BY user_id),
    obs AS (
        SELECT user_id,
               CASE WHEN p_ts IS NOT NULL
                     AND (c_ts IS NULL OR p_ts <= c_ts) THEN 1
                    WHEN c_ts IS NOT NULL THEN 2
                    ELSE 0 END AS cause,
               CASE WHEN p_ts IS NOT NULL
                     AND (c_ts IS NULL OR p_ts <= c_ts)
                    THEN date_diff('day', CAST(first_ts AS DATE),
                                   CAST(p_ts AS DATE))
                    WHEN c_ts IS NOT NULL
                    THEN date_diff('day', CAST(first_ts AS DATE),
                                   CAST(c_ts AS DATE))
                    ELSE date_diff('day', CAST(first_ts AS DATE),
                                   (SELECT obs_end FROM bounds)) END AS t
        FROM pu),
    byd AS MATERIALIZED (
        SELECT t,
               CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d1,
               CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d2,
               CAST(count(*) AS BIGINT) AS leaving
        FROM obs GROUP BY t),
    rs AS (
        SELECT t, d1, d2,
               CAST(sum(leaving) OVER (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS n_at_risk
        FROM byd),
    km AS (
        -- the final risk row can exhaust the risk set (d = n): its KM
        -- factor is 0, carried as ln = -1000 (exp underflows to exact
        -- 0.0 identically on both engines) so later increments vanish
        SELECT t, d1, d2, n_at_risk,
               exp(coalesce(sum(CASE WHEN d1 + d2 < n_at_risk
                        THEN ln(1e0 - (d1 + d2) / n_at_risk)
                        ELSE -1e3 END) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0e0)) AS s_minus
        FROM rs WHERE t < 9999),
    cif AS (
        SELECT t,
               sum(s_minus * d1 / n_at_risk) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cif1,
               sum(s_minus * d2 / n_at_risk) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cif2
        FROM km)
    SELECT t, round(cif1, 6) AS cif_purchase, round(cif2, 6) AS cif_click
    FROM cif WHERE t <= 14 ORDER BY t
    """,
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative-incidence functions under COMPETING
    risks: from each user's first event, first-purchase (cause 1)
    competes with first-click (cause 2); CIF_k(t) = sum over event
    days of S(day-) * d_k/n, with S the all-cause Kaplan-Meier — the
    estimator that fixes the classic '1 - KM per cause' bias
    (naive per-cause KM overstates incidence when risks compete).
    kaplan_meier_conversion / rmst / logrank cover single-risk
    survival; this is the multi-outcome member every funnel with
    alternative terminal states actually needs. One per-user corpus
    rollup; everything downstream runs on the calendar-bounded
    per-day frame (suffix risk window + exp-ln cumulative product +
    two prefix sums)."""
    evt = _t(spark, sf_dir, "events")
    bounds = evt.agg(F.max(F.col("ts").cast("date")).alias("obs_end"))
    pu = evt.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p_ts"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "c_ts"
        ),
    )
    p_first = F.col("p_ts").isNotNull() & (
        F.col("c_ts").isNull() | (F.col("p_ts") <= F.col("c_ts"))
    )
    obs = pu.crossJoin(F.broadcast(bounds)).select(
        F.when(p_first, 1)
        .when(F.col("c_ts").isNotNull(), 2)
        .otherwise(0)
        .alias("cause"),
        F.when(
            p_first,
            F.datediff(F.col("p_ts").cast("date"), F.col("first_ts").cast("date")),
        )
        .when(
            F.col("c_ts").isNotNull(),
            F.datediff(F.col("c_ts").cast("date"), F.col("first_ts").cast("date")),
        )
        .otherwise(
            F.datediff(F.col("obs_end"), F.col("first_ts").cast("date"))
        )
        .alias("t"),
    )
    byd = obs.groupBy("t").agg(
        F.sum((F.col("cause") == 1).cast("int")).cast("long").alias("d1"),
        F.sum((F.col("cause") == 2).cast("int")).cast("long").alias("d2"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rs = byd.select(
        "t", "d1", "d2",
        F.sum("leaving").over(w_desc).cast("double").alias("n_at_risk"),
    )
    w_excl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = rs.filter(F.col("t") < 9999).select(
        "t", "d1", "d2", "n_at_risk",
        F.exp(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("d1") + F.col("d2") < F.col("n_at_risk"),
                        F.log(
                            1.0
                            - (F.col("d1") + F.col("d2")) / F.col("n_at_risk")
                        ),
                    ).otherwise(-1e3)
                ).over(w_excl),
                F.lit(0.0),
            )
        ).alias("s_minus"),
    )
    cif = km.select(
        "t",
        F.sum(F.col("s_minus") * F.col("d1") / F.col("n_at_risk"))
        .over(w_incl)
        .alias("cif1"),
        F.sum(F.col("s_minus") * F.col("d2") / F.col("n_at_risk"))
        .over(w_incl)
        .alias("cif2"),
    )
    return (
        cif.filter(F.col("t") <= 14)
        .select(
            "t",
            F.round("cif1", 6).alias("cif_purchase"),
            F.round("cif2", 6).alias("cif_click"),
        )
        .orderBy("t")
    )


def _duck_fiedler_sql(rounds: int = 8) -> str:
    """Deflated power iteration on B = (2*maxdeg+1)I - L: per round one
    inflow sum, one mean-removal (deflation against the trivial
    all-ones eigenvector), one L-inf normalization."""
    edge_sql = _DUCK_H60.format(
        args="CAST(a.id AS VARCHAR) || '-' || CAST(b.id AS VARCHAR), 'fied'"
    )
    init_sql = _DUCK_H60.format(args="CAST(id AS VARCHAR), 'fied0'")
    ctes = [
        f"""s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e0 AS MATERIALIZED (
        SELECT a.id AS u, b.id AS v FROM s a JOIN s b ON a.id < b.id
        WHERE {edge_sql} % 10000 < 500),
    ue AS MATERIALIZED (
        SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS MATERIALIZED (
        SELECT u AS id, CAST(count(*) AS BIGINT) AS d FROM ue GROUP BY u),
    cc AS (SELECT 2 * max(d) + 1 AS c FROM deg),
    x0 AS (
        SELECT id, ({init_sql} % 1000) * 1e-3 - 5e-1 AS x FROM deg)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""y{r} AS MATERIALIZED (
            SELECT deg.id,
                   ((SELECT c FROM cc) - deg.d) * x.x + coalesce(i.s, 0e0)
                       AS y
            FROM deg
            JOIN x{r} x ON x.id = deg.id
            LEFT JOIN (
                SELECT e.v AS id, sum(x.x) AS s
                FROM ue e JOIN x{r} x ON x.id = e.u GROUP BY e.v) i
            ON i.id = deg.id)"""
        )
        ctes.append(
            f"""z{r} AS MATERIALIZED (
            SELECT id, y - (SELECT avg(y) FROM y{r}) AS z FROM y{r})"""
        )
        ctes.append(
            f"""x{r + 1} AS MATERIALIZED (
            SELECT id, CASE WHEN m.m > 0 THEN z / m.m ELSE 0e0 END AS x
            FROM z{r}, (SELECT max(abs(z)) AS m FROM z{r}) m)"""
        )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT id, round(x, 6) AS fiedler FROM x{rounds} ORDER BY id
    """


@query("fiedler_scores_suppliers", _duck_fiedler_sql())
def fiedler_scores_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiedler (algebraic-connectivity) spectral coordinates of the
    sampled supplier graph: deflated power iteration on the shifted
    Laplacian B = (2*maxdeg+1)I - L (the shift dominates lambda_max(L) <= 2*maxdeg, so B is PSD and the deflated dominant direction IS the Fiedler vector) — per round one neighbor-sum join,
    one mean subtraction (deflation against the all-ones trivial
    eigenvector), one L-inf normalization, all exactly-replayable
    scalars. The sign pattern of the limit is THE spectral bisection
    (Fiedler 1973), behind every min-cut partitioner and spectral
    clustering stage; the continuous coordinates are returned (the
    discrete cut is asserted in tests) because sign() of a
    near-zero score is the one thing two engines may legitimately
    disagree on. Same per-round shuffle shape as eigenvector /
    PageRank; h60 initial vector so both engines iterate from the
    identical point."""
    sup = tg.supplier_nodes(_t(spark, sf_dir, "supplier"))
    pairs = tg.sampled_edges(sup, 500, "fied")
    ue = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select(F.col("src").alias("u"), F.col("dst").alias("v")).persist()
    deg = ue.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).persist()
    # The shift constant is an exact integer; one driver-bounded 1-row
    # collect replaces a per-round broadcast-subtree rebuild (r9).
    # max(d) is NULL when the sampled graph has no edges (tiny SFs) —
    # deg is then empty, every loop frame is empty regardless of the
    # shift, so any placeholder preserves the (empty) result.
    c_row = deg.agg((2 * F.max("d") + 1).alias("c")).first()
    c_val = int(c_row["c"]) if c_row["c"] is not None else 1
    x = deg.select(
        "id",
        (
            (mls.hash60(F.col("id").cast("string"), F.lit("fied0")) % 1000)
            * 1e-3
            - 0.5
        ).alias("x"),
    ).localCheckpoint()
    for _ in range(8):
        inflow = (
            ue.join(x.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("x").alias("s"))
        )
        # Pin y: it feeds the mean broadcast, the mx broadcast (via z)
        # and the final projection, and the branches' column pruning
        # defeats ReusedExchange — unpinned, the join chain above ran
        # ~3x per round (r9: 1.79x med from this pin + the c_val hoist).
        y = (
            deg.join(x, "id")
            .join(inflow, "id", "left")
            .select(
                "id",
                (
                    (F.lit(c_val) - F.col("d")) * F.col("x")
                    + F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("y"),
            )
        ).localCheckpoint()
        mean = y.agg(F.avg("y").alias("my"))
        z = y.crossJoin(F.broadcast(mean)).select(
            "id", (F.col("y") - F.col("my")).alias("z")
        )
        mx = z.agg(F.max(F.abs(F.col("z"))).alias("m"))
        x = z.crossJoin(F.broadcast(mx)).select(
            "id",
            F.when(F.col("m") > 0, F.col("z") / F.col("m"))
            .otherwise(0.0)
            .alias("x"),
        ).localCheckpoint()
    return x.select("id", F.round("x", 6).alias("fiedler")).orderBy("id")


@query(
    "panel_fe_elasticity",
    """
    WITH obs AS MATERIALIZED (
        SELECT p.p_brand AS g,
               ln(l.l_quantity) AS y,
               ln(l.l_extendedprice / l.l_quantity) AS x
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
    gm AS MATERIALIZED (
        SELECT g, avg(x) AS mxg, avg(y) AS myg,
               CAST(count(*) AS BIGINT) AS ng
        FROM obs GROUP BY g),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM gm) AS n_groups,
               sum((x - mxg) * (y - myg)) / sum((x - mxg) * (x - mxg))
                   AS slope,
               sum((x - mxg) * (y - myg))
                   * (sum((x - mxg) * (y - myg))
                      / (sum((x - mxg) * (x - mxg))
                         * sum((y - myg) * (y - myg)))) AS r2w
        FROM obs JOIN gm USING (g))
    SELECT n, n_groups, round(slope, 6) AS elasticity,
           round(r2w, 6) AS r2_within
    FROM fit
    """,
)
def panel_fe_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel fixed-effects price elasticity: ln(quantity) on
    ln(unit price) with BRAND fixed effects by the within
    transformation (demean both variables inside each brand, then
    OLS on the residuals — numerically identical to brand-dummy
    regression, without materializing dummies). This is the
    econometric upgrade of price_elasticity_by_type (pooled log-log):
    FE absorbs between-brand level differences so the slope is
    identified from WITHIN-brand price variation only — the
    difference between 'expensive brands sell less' and 'raising a
    price lowers sales'. One corpus pass, a brand-sized broadcast of
    group means, one aggregation; r2_within rides along."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    obs = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("g"),
        F.log("l_quantity").alias("y"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
    )
    gm = obs.groupBy("g").agg(
        F.avg("x").alias("mxg"),
        F.avg("y").alias("myg"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )
    ngroups = gm.agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    dx = F.col("x") - F.col("mxg")
    dy = F.col("y") - F.col("myg")
    fit = (
        obs.join(F.broadcast(gm), "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(dx * dy) / F.sum(dx * dx)).alias("slope"),
            (
                F.sum(dx * dy)
                * (F.sum(dx * dy) / (F.sum(dx * dx) * F.sum(dy * dy)))
            ).alias("r2w"),
        )
    )
    return fit.crossJoin(F.broadcast(ngroups)).select(
        "n", "n_groups",
        F.round("slope", 6).alias("elasticity"),
        F.round("r2w", 6).alias("r2_within"),
    )


# =====================================================================
# Round-6 third wave, part 8: mergeable-sketch ROLLING windows (the
# 100 TB WAU), stupid-backoff trigram scoring (the web-scale LM built
# FOR MapReduce), and propensity-score matching ATT.
# =====================================================================

@query(
    "rolling_7d_hll_users",
    """
    WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM daily)
    SELECT days.d AS activity_date,
           CAST(count(DISTINCT daily.user_id) AS BIGINT) AS wau_exact,
           TRUE AS approx_within_2pct
    FROM days JOIN daily
      ON daily.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d ORDER BY days.d
    """,
)
def rolling_7d_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from MERGED DAILY SKETCHES: one
    HLL sketch per day (lgConfigK=14, ~0.8% SE), then each anchor day
    unions its trailing 7 sketches — the mergeable-state answer to
    the one aggregate that cannot ride a sliding window
    (COUNT DISTINCT). Against rolling_7d_active_users (the exact
    range-join twin) this is THE 100 TB WAU: the corpus is touched
    once to build day-sized sketches (a few KB each), and every
    window, backfill, or re-slice afterwards is sketch arithmetic —
    no re-shuffle of the (day, user) pairs, ever. The HLL estimate is
    implementation-specific, so the oracle contract is the exact twin
    plus the 2% accuracy flag (same discipline as hll_daily_users);
    the flag flips if sketch build, union, or estimate breaks."""
    ev = _t(spark, sf_dir, "events")
    daily_sk = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch")
    ).persist()
    days = daily_sk.select(F.col("d").alias("anchor"))
    est = (
        days.join(
            daily_sk,
            (F.col("d") <= F.col("anchor"))
            & (F.col("d") >= F.date_sub(F.col("anchor"), 6)),
        )
        .groupBy("anchor")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx")
        )
    )
    daily = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    exact = (
        days.join(
            daily,
            (F.col("d") <= F.col("anchor"))
            & (F.col("d") >= F.date_sub(F.col("anchor"), 6)),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").cast("long").alias("wau_exact"))
    )
    return (
        exact.join(est, "anchor")
        .select(
            F.col("anchor").alias("activity_date"),
            "wau_exact",
            (
                F.abs(F.col("approx") - F.col("wau_exact")) / F.col("wau_exact")
                <= 0.02
            ).alias("approx_within_2pct"),
        )
        .orderBy("activity_date")
    )


@query(
    "stupid_backoff_trigram_docs",
    f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id % 10 = 0 AS is_test, {_DUCK_TOKS} AS toks
        FROM documents),
    tg3 AS MATERIALIZED (
        SELECT is_test,
               unnest(toks[1:len(toks)-2]) AS u,
               unnest(toks[2:len(toks)-1]) AS v,
               unnest(toks[3:len(toks)]) AS w
        FROM t WHERE len(toks) >= 3),
    tri AS MATERIALIZED (
        SELECT u, v, w, CAST(count(*) AS BIGINT) AS c3
        FROM tg3 WHERE NOT is_test GROUP BY u, v, w),
    bi AS MATERIALIZED (
        SELECT v, w, CAST(count(*) AS BIGINT) AS c2
        FROM (SELECT is_test, unnest(toks[1:len(toks)-1]) AS v,
                     unnest(toks[2:len(toks)]) AS w
              FROM t WHERE len(toks) >= 2)
        WHERE NOT is_test GROUP BY v, w),
    cuv AS MATERIALIZED (
        SELECT u, v, CAST(sum(c3) AS BIGINT) AS cuv FROM tri GROUP BY u, v),
    cv AS MATERIALIZED (
        SELECT v, CAST(sum(c2) AS BIGINT) AS cv FROM bi GROUP BY v),
    uni AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT is_test, unnest(toks) AS w FROM t)
        WHERE NOT is_test GROUP BY w),
    nn AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
    te AS MATERIALIZED (
        SELECT tri.c3, cuv.cuv, bi.c2, cv.cv, uni.c1
        FROM tg3
        LEFT JOIN tri USING (u, v, w)
        LEFT JOIN cuv USING (u, v)
        LEFT JOIN bi USING (v, w)
        LEFT JOIN cv USING (v)
        LEFT JOIN uni USING (w)
        WHERE is_test),
    p AS (
        SELECT CASE
                 WHEN c3 IS NOT NULL THEN c3 * 1e0 / cuv
                 WHEN c2 IS NOT NULL THEN 4e-1 * c2 / cv
                 WHEN c1 IS NOT NULL
                   THEN 4e-1 * 4e-1 * c1 / (SELECT n FROM nn)
                 ELSE 1e-10 END AS s,
               CASE WHEN c3 IS NOT NULL THEN 3
                    WHEN c2 IS NOT NULL THEN 2
                    WHEN c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
        FROM te)
    SELECT CAST(count(*) AS BIGINT) AS n_test_trigrams,
           round(avg(CASE WHEN lvl = 3 THEN 1e0 ELSE 0e0 END), 6)
               AS share_trigram,
           round(avg(CASE WHEN lvl = 2 THEN 1e0 ELSE 0e0 END), 6)
               AS share_bigram,
           round(avg(CASE WHEN lvl = 1 THEN 1e0 ELSE 0e0 END), 6)
               AS share_unigram,
           round(avg(CASE WHEN lvl = 0 THEN 1e0 ELSE 0e0 END), 6)
               AS share_oov,
           round(sum(ln(s)) / count(*), 6) AS mean_log_score
    FROM p
    """,
)
def stupid_backoff_trigram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al., EMNLP'07 —
    'Large language models in machine translation', the LM designed
    FOR MapReduce-scale corpora): S(w|uv) = c(uvw)/c(uv), backing off
    by a flat 0.4 to the bigram then unigram relative frequency — no
    discounting, no normalization, which is exactly why it scales to
    trillions of tokens where Kneser-Ney's continuation counts get
    expensive. Trained on the 90% split, scored on the held-out 10%
    with the backoff-level mix reported (the share of trigram/bigram/
    unigram hits is the coverage diagnostic web-scale LM papers
    tabulate). All count tables are vocabulary-sized broadcasts onto
    the held-out trigram stream; one tokenize pass."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") % 10 == 0).alias("is_test"),
        ptx.tokens("text").alias("toks"),
    )
    t3 = t.filter(F.size("toks") >= 3)
    tg3 = t3.select(
        "is_test",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 2),
                F.slice("toks", 2, F.size("toks") - 2),
                F.slice("toks", 3, F.size("toks") - 2),
            )
        ).alias("z"),
    ).select(
        "is_test",
        F.col("z.0").alias("u"),
        F.col("z.1").alias("v"),
        F.col("z.2").alias("w"),
    )
    bg = (
        t.filter(F.size("toks") >= 2)
        .select(
            "is_test",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                )
            ).alias("z"),
        )
        .select("is_test", F.col("z.0").alias("v"), F.col("z.1").alias("w"))
    )
    tri = (
        tg3.filter(~F.col("is_test"))
        .groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .persist()
    )
    bi = (
        bg.filter(~F.col("is_test"))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .persist()
    )
    cuv = tri.groupBy("u", "v").agg(F.sum("c3").cast("long").alias("cuv"))
    cv = bi.groupBy("v").agg(F.sum("c2").cast("long").alias("cv"))
    uni = (
        t.select("is_test", F.explode("toks").alias("w"))
        .filter(~F.col("is_test"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    nn = uni.agg(F.sum("c1").cast("long").alias("n"))
    te = (
        tg3.filter(F.col("is_test"))
        .join(F.broadcast(tri), ["u", "v", "w"], "left")
        .join(F.broadcast(cuv), ["u", "v"], "left")
        .join(F.broadcast(bi), ["v", "w"], "left")
        .join(F.broadcast(cv), "v", "left")
        .join(F.broadcast(uni), "w", "left")
        .crossJoin(F.broadcast(nn))
    )
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") * 1.0 / F.col("cuv"))
        .when(F.col("c2").isNotNull(), 0.4 * F.col("c2") / F.col("cv"))
        .when(
            F.col("c1").isNotNull(),
            0.4 * 0.4 * F.col("c1") / F.col("n"),
        )
        .otherwise(1e-10)
    )
    lvl = (
        F.when(F.col("c3").isNotNull(), 3)
        .when(F.col("c2").isNotNull(), 2)
        .when(F.col("c1").isNotNull(), 1)
        .otherwise(0)
    )
    p = te.select(s.alias("s"), lvl.alias("lvl"))
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_trigrams"),
        F.round(F.avg(F.when(F.col("lvl") == 3, 1.0).otherwise(0.0)), 6).alias(
            "share_trigram"
        ),
        F.round(F.avg(F.when(F.col("lvl") == 2, 1.0).otherwise(0.0)), 6).alias(
            "share_bigram"
        ),
        F.round(F.avg(F.when(F.col("lvl") == 1, 1.0).otherwise(0.0)), 6).alias(
            "share_unigram"
        ),
        F.round(F.avg(F.when(F.col("lvl") == 0, 1.0).otherwise(0.0)), 6).alias(
            "share_oov"
        ),
        F.round(F.sum(F.log("s")) / F.count(F.lit(1)), 6).alias(
            "mean_log_score"
        ),
    )


def _duck_psm_sql(rounds: int = 6) -> str:
    """Propensity Newton fit (same chain as Platt, labels = treated)
    + within-nation nearest-propensity matching windows."""
    ctes = [
        """cust AS MATERIALIZED (
        SELECT c.c_custkey AS ck, c.c_nationkey AS nk,
               c.c_acctbal / 5000e0 AS x,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS trt,
               CAST(coalesce(oc.cnt, 0) AS DOUBLE) AS y
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
                   GROUP BY o_custkey) oc
               ON oc.o_custkey = c.c_custkey),
    d AS MATERIALIZED (
        SELECT x, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(trt) AS BIGINT) AS sy
        FROM cust GROUP BY x),
    q0_ AS (SELECT 0e0 AS pa, 0e0 AS pb)"""
    ]
    prev = "q0_"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""q{t}_ AS (
            SELECT pa + (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12)
                       AS pa,
                   pb + (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12)
                       AS pb
            FROM (SELECT max(pa) AS pa, max(pb) AS pb, {_PLATT_SUMS}
                  FROM d, {prev}))"""
        )
        prev = f"q{t}_"
    ctes.append(
        f"""sc AS MATERIALIZED (
        SELECT ck, nk, trt, y, {_PLATT_P} AS p
        FROM cust, {prev})"""
    )
    ctes.extend([
        """mt AS MATERIALIZED (
        SELECT trt, y, p,
               last_value(CASE WHEN trt = 0 THEN p END IGNORE NULLS)
                   OVER (PARTITION BY nk ORDER BY p, ck
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prev_cp,
               last_value(CASE WHEN trt = 0 THEN y END IGNORE NULLS)
                   OVER (PARTITION BY nk ORDER BY p, ck
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prev_cy,
               first_value(CASE WHEN trt = 0 THEN p END IGNORE NULLS)
                   OVER (PARTITION BY nk ORDER BY p, ck
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_cp,
               first_value(CASE WHEN trt = 0 THEN y END IGNORE NULLS)
                   OVER (PARTITION BY nk ORDER BY p, ck
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_cy
        FROM sc)""",
        """mm AS (
        SELECT y,
               CASE WHEN prev_cp IS NULL THEN next_cy
                    WHEN next_cp IS NULL THEN prev_cy
                    WHEN p - prev_cp <= next_cp - p THEN prev_cy
                    ELSE next_cy END AS my
        FROM mt
        WHERE trt = 1 AND (prev_cp IS NOT NULL OR next_cp IS NOT NULL))""",
        """naive AS (
        SELECT avg(CASE WHEN trt = 1 THEN y END)
                 - avg(CASE WHEN trt = 0 THEN y END) AS nd,
               CAST(sum(trt) AS BIGINT) AS n_treated,
               CAST(count(*) - sum(trt) AS BIGINT) AS n_controls
        FROM sc)""",
    ])
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT n_treated, n_controls,
           (SELECT CAST(count(*) AS BIGINT) FROM mm) AS n_matched,
           round((SELECT avg(y - my) FROM mm), 6) AS att,
           round(nd, 6) AS naive_diff
    FROM naive
    """


@query("psm_att_building", _duck_psm_sql())
def psm_att_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching ATT (Rosenbaum & Rubin 1983):
    treatment = BUILDING segment, outcome = order count, propensity
    fit by the same 6-step 2-param Newton as platt_calibration
    (labels = treated), then each treated customer matches its
    nearest-propensity CONTROL within the nation block via two
    IGNORE-NULLS running windows (previous / next control in
    propensity order — the sort-merge formulation of 1-NN caliper
    matching, no pairwise join). ATT vs the naive treated-control
    gap shows the selection-bias correction. Completes the causal
    family: stratified_ate (stratification), cuped (covariate
    adjustment), diff_in_diff (time), ips_policy_eval (reweighting),
    this (matching). Windows are partitioned by nation — the
    match never globally sorts the corpus."""
    c = _t(spark, sf_dir, "customer")
    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cust = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("nk"),
        (F.col("c_acctbal") / 5000.0).alias("x"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("trt"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("double").alias("y"),
    ).persist()
    d = cust.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("trt").cast("long").alias("sy"),
    )
    pdf = d.limit(1).select(F.lit(0.0).alias("pa"), F.lit(0.0).alias("pb"))
    for _ in range(6):
        s = d.crossJoin(F.broadcast(pdf)).agg(
            F.max("pa").alias("pa"),
            F.max("pb").alias("pb"),
            *[
                F.expr(part.rsplit(" AS ", 1)[0]).alias(
                    part.rsplit(" AS ", 1)[1]
                )
                for part in _PLATT_SUMS.split(", ")
            ],
        )
        det = F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        pdf = s.select(
            (
                F.col("pa")
                + (F.col("h22") * F.col("g1") - F.col("h12") * F.col("g2")) / det
            ).alias("pa"),
            (
                F.col("pb")
                + (F.col("h11") * F.col("g2") - F.col("h12") * F.col("g1")) / det
            ).alias("pb"),
        )
    sc = cust.crossJoin(F.broadcast(pdf)).select(
        "ck", "nk", "trt", "y", F.expr(_PLATT_P).alias("p")
    )
    wp = (
        Window.partitionBy("nk")
        .orderBy("p", "ck")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("nk")
        .orderBy("p", "ck")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    cp = F.when(F.col("trt") == 0, F.col("p"))
    cy = F.when(F.col("trt") == 0, F.col("y"))
    mt = sc.select(
        "trt", "y", "p",
        F.last(cp, ignorenulls=True).over(wp).alias("prev_cp"),
        F.last(cy, ignorenulls=True).over(wp).alias("prev_cy"),
        F.first(cp, ignorenulls=True).over(wn).alias("next_cp"),
        F.first(cy, ignorenulls=True).over(wn).alias("next_cy"),
    )
    mm = mt.filter(
        (F.col("trt") == 1)
        & (F.col("prev_cp").isNotNull() | F.col("next_cp").isNotNull())
    ).select(
        "y",
        F.when(F.col("prev_cp").isNull(), F.col("next_cy"))
        .when(F.col("next_cp").isNull(), F.col("prev_cy"))
        .when(
            F.col("p") - F.col("prev_cp") <= F.col("next_cp") - F.col("p"),
            F.col("prev_cy"),
        )
        .otherwise(F.col("next_cy"))
        .alias("my"),
    )
    att = mm.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.round(F.avg(F.col("y") - F.col("my")), 6).alias("att"),
    )
    naive = cust.agg(
        F.sum("trt").cast("long").alias("n_treated"),
        (F.count(F.lit(1)) - F.sum("trt")).cast("long").alias("n_controls"),
        F.round(
            F.avg(F.when(F.col("trt") == 1, F.col("y")))
            - F.avg(F.when(F.col("trt") == 0, F.col("y"))),
            6,
        ).alias("naive_diff"),
    )
    return naive.crossJoin(F.broadcast(att)).select(
        "n_treated", "n_controls", "n_matched", "att", "naive_diff"
    )


# =====================================================================
# Round-6 third wave, part 9: Markov absorption probabilities, exact
# threshold tuning (Youden J / max-F1), and additive Holt-Winters
# with a weekly season (list-state recursion, replayed by a
# recursive-CTE oracle).
# =====================================================================

def _duck_absorb_sql(rounds: int = 16) -> str:
    ctes = [
        """seq AS MATERIALIZED (
        SELECT user_id, event_type AS s,
               lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS s2
        FROM events),
    tr AS MATERIALIZED (
        SELECT s, coalesce(s2, 'END') AS s2,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE s <> 'purchase' GROUP BY s, coalesce(s2, 'END')),
    tp AS MATERIALIZED (
        SELECT s, s2, n * 1e0 / sum(n) OVER (PARTITION BY s) AS p
        FROM tr),
    st AS MATERIALIZED (SELECT DISTINCT s FROM tp),
    a0 AS (SELECT s, 0e0 AS a FROM st)"""
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"""a{t} AS MATERIALIZED (
            SELECT st.s,
                   coalesce((SELECT p FROM tp
                             WHERE tp.s = st.s AND tp.s2 = 'purchase'), 0e0)
                   + coalesce((
                       SELECT sum(tp.p * ap.a)
                       FROM tp JOIN a{t - 1} ap ON ap.s = tp.s2
                       WHERE tp.s = st.s
                         AND tp.s2 <> 'purchase' AND tp.s2 <> 'END'), 0e0)
                       AS a
            FROM st)"""
        )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT s AS start_state, round(a, 6) AS p_absorb
    FROM a{rounds} ORDER BY s
    """


@query("markov_absorption_funnel", _duck_absorb_sql())
def markov_absorption_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorption probabilities of the event-type Markov chain:
    P(a session starting in state s ever reaches 'purchase' before
    dying at END), by 16 unrolled value-iteration rounds
    a_{k+1}(s) = P(s,purchase) + sum_transient P(s,s') a_k(s') — the
    fundamental-matrix quantity (I-Q)^-1 R computed WITHOUT a matrix
    inverse, as bounded fixed-point iteration on the states-sized
    frame. Completes the Markov family: event_transition_matrix (the
    chain), markov_stationary_events (long-run mix),
    markov_attribution (removal effects), markov_next_event_accuracy
    (held-out lift) — this is the funnel-conversion number product
    teams quote. One corpus pass builds transitions (the same lag
    window as the transition matrix); everything after is
    states-squared arithmetic on a DRIVER-BOUNDED frame
    (|event_types|^2 <= ~36 rows), so the 16 rounds recurse in Python
    doubles (the Durbin-Levinson device — r6's lesson that unrolling
    a tiny recursion as 16 chained lazy joins buys seconds of pure
    Catalyst planning for a 5-row frame)."""
    evt = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = evt.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("s2"),
    )
    tr = (
        seq.filter(F.col("s") != "purchase")
        .groupBy("s", F.coalesce("s2", F.lit("END")).alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # driver-bounded collect: |event_types|^2 transition cells (<= ~36
    # rows) — the one corpus-sized pass is the groupBy above
    cells = tr.select(
        "s", "s2",
        (F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("s"))).alias("p"),
    ).collect()
    states = sorted({r.s for r in cells})
    pd_ = {s: 0.0 for s in states}
    trans: dict = {s: [] for s in states}
    for r in sorted(cells, key=lambda r: (r.s, r.s2)):
        if r.s2 == "purchase":
            pd_[r.s] = r.p
        elif r.s2 != "END":
            trans[r.s].append((r.s2, r.p))
    a = {s: 0.0 for s in states}
    for _ in range(16):
        flow = {
            s: sum(p * a[s2] for s2, p in trans[s] if s2 in a)
            for s in states
        }
        a = {s: pd_[s] + flow[s] for s in states}
    return spark.createDataFrame(
        [(s, round(a[s], 6)) for s in states],
        "start_state string, p_absorb double",
    ).orderBy("start_state")


@query(
    "youden_f1_threshold",
    """
    WITH scored AS (
        SELECT 1e0 / (1e0 + exp(-(c.c_acctbal / 5000e0))) AS x,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    tot AS (SELECT CAST(sum(y) AS BIGINT) AS np,
                   CAST(count(*) - sum(y) AS BIGINT) AS nn FROM scored),
    d AS MATERIALIZED (
        SELECT x, CAST(sum(y) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS c
        FROM scored GROUP BY x),
    cum AS (
        SELECT x,
               CAST(sum(c1) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tp,
               CAST(sum(c - c1) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS fp
        FROM d),
    m AS (
        SELECT x AS threshold, tp, fp, np - tp AS fn, nn - fp AS tn,
               CASE WHEN 2e0 * tp + fp + (np - tp) > 0
                    THEN 2e0 * tp / (2e0 * tp + fp + (np - tp))
                    ELSE 0e0 END AS f1,
               (CASE WHEN np > 0 THEN tp * 1e0 / np ELSE 0e0 END)
                 - (CASE WHEN nn > 0 THEN fp * 1e0 / nn ELSE 0e0 END) AS j
        FROM cum, tot),
    bf AS (SELECT * FROM m ORDER BY f1 DESC, threshold LIMIT 1),
    bj AS (SELECT * FROM m ORDER BY j DESC, threshold LIMIT 1)
    SELECT 'f1' AS criterion, round(threshold, 6) AS threshold,
           round(f1, 6) AS value, tp, fp, fn, tn FROM bf
    UNION ALL
    SELECT 'youden_j', round(threshold, 6), round(j, 6), tp, fp, fn, tn
    FROM bj
    ORDER BY criterion
    """,
)
def youden_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-threshold tuning over EVERY distinct score:
    the F1-maximizing and Youden-J-maximizing (TPR - FPR) operating
    points of the account-balance scorer, with their full confusion
    cells — the step auc_exact_score (ranking quality) and
    platt_calibration (probability quality) both stop short of:
    where to actually CUT. Two cumulative windows over the
    distinct-score frame turn every threshold's confusion matrix
    into prefix sums (the same rank-frame shape as auc_exact, with
    the bucketed_rank_stats fallback for the 100 TB distinct-score
    case); argmax with a deterministic threshold tie-break."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0))))
        .alias("x"),
        F.col("o_custkey").isNotNull().cast("int").alias("y"),
    )
    tot = scored.agg(
        F.sum("y").cast("long").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nn"),
    )
    d = scored.groupBy("x").agg(
        F.sum("y").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    # bucketed prefix sums (r8: support -> bucketed): the DESCENDING
    # cumulative at x is the total minus the ascending EXCLUSIVE
    # prefix — tp(x) = np - (cum_c1 - c1); fp likewise over (c - c1).
    pre = st.bucketed_prefix_sums(d, "x", ["c1", "c"], n_buckets=32)
    cum = pre.crossJoin(F.broadcast(tot)).select(
        "x",
        (F.col("np") - (F.col("cum_c1") - F.col("c1")))
        .cast("long")
        .alias("tp"),
        (
            F.col("nn")
            - (
                (F.col("cum_c") - F.col("c"))
                - (F.col("cum_c1") - F.col("c1"))
            )
        )
        .cast("long")
        .alias("fp"),
    )
    m = cum.crossJoin(F.broadcast(tot)).select(
        F.col("x").alias("threshold"),
        "tp", "fp",
        (F.col("np") - F.col("tp")).alias("fn"),
        (F.col("nn") - F.col("fp")).alias("tn"),
        F.when(
            2.0 * F.col("tp") + F.col("fp") + (F.col("np") - F.col("tp")) > 0,
            2.0 * F.col("tp")
            / (2.0 * F.col("tp") + F.col("fp") + (F.col("np") - F.col("tp"))),
        )
        .otherwise(0.0)
        .alias("f1"),
        (
            F.when(F.col("np") > 0, F.col("tp") * 1.0 / F.col("np")).otherwise(
                0.0
            )
            - F.when(F.col("nn") > 0, F.col("fp") * 1.0 / F.col("nn")).otherwise(
                0.0
            )
        ).alias("j"),
    ).persist()
    bf = m.orderBy(F.col("f1").desc(), "threshold").limit(1)
    bj = m.orderBy(F.col("j").desc(), "threshold").limit(1)
    out = bf.select(
        F.lit("f1").alias("criterion"),
        F.round("threshold", 6).alias("threshold"),
        F.round("f1", 6).alias("value"),
        "tp", "fp", "fn", "tn",
    ).unionByName(
        bj.select(
            F.lit("youden_j").alias("criterion"),
            F.round("threshold", 6).alias("threshold"),
            F.round("j", 6).alias("value"),
            "tp", "fp", "fn", "tn",
        )
    )
    return out.orderBy("criterion")


_HW_ALPHA, _HW_BETA, _HW_GAMMA = "3e-1", "5e-2", "2e-1"
_HW_LNEW = (
    f"{_HW_ALPHA} * (ds.y - hw.s[1]) + (1e0 - {_HW_ALPHA}) * (hw.l + hw.b)"
)


@query(
    "holt_winters_weekly",
    f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT CAST(o_orderdate AS DATE) AS d,
               round(sum(o_totalprice), 2) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    ds AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, y
        FROM daily),
    tt AS (SELECT max(t) AS tmax FROM ds),
    init AS (
        SELECT (((((( (SELECT y FROM ds WHERE t = 1)
                 + (SELECT y FROM ds WHERE t = 2))
                 + (SELECT y FROM ds WHERE t = 3))
                 + (SELECT y FROM ds WHERE t = 4))
                 + (SELECT y FROM ds WHERE t = 5))
                 + (SELECT y FROM ds WHERE t = 6))
                 + (SELECT y FROM ds WHERE t = 7)) / 7e0 AS l0),
    hw AS (
        SELECT CAST(7 AS BIGINT) AS t, l0 AS l, 0e0 AS b,
               [(SELECT y FROM ds WHERE t = 1) - l0,
                (SELECT y FROM ds WHERE t = 2) - l0,
                (SELECT y FROM ds WHERE t = 3) - l0,
                (SELECT y FROM ds WHERE t = 4) - l0,
                (SELECT y FROM ds WHERE t = 5) - l0,
                (SELECT y FROM ds WHERE t = 6) - l0,
                (SELECT y FROM ds WHERE t = 7) - l0] AS s
        FROM init
        UNION ALL
        SELECT ds.t,
               {_HW_LNEW} AS l,
               {_HW_BETA} * (({_HW_LNEW}) - hw.l)
                 + (1e0 - {_HW_BETA}) * hw.b AS b,
               hw.s[2:7] ||
                 [{_HW_GAMMA} * (ds.y - ({_HW_LNEW}))
                  + (1e0 - {_HW_GAMMA}) * hw.s[1]] AS s
        FROM hw JOIN ds ON ds.t = hw.t + 1
        WHERE hw.t < (SELECT tmax FROM tt)),
    fin AS (SELECT * FROM hw WHERE t = (SELECT tmax FROM tt))
    SELECT hs.h,
           round(fin.l + hs.h * fin.b + fin.s[hs.h], 4) AS forecast
    FROM fin, (SELECT unnest(generate_series(1, 7)) AS h) hs
    ORDER BY hs.h
    """,
)
def holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters with a weekly season (alpha=0.3,
    beta=0.05, gamma=0.2) on daily revenue, forecasting h=1..7 — the
    SEASONAL member of the exponential-smoothing family next to
    holt_forecast_daily (trend only) and croston (intermittent).
    Daily revenues are rounded to cents FIRST, so both engines run
    the level/trend/season recursion on bit-identical doubles; the
    recursion state is (l, b, 7-slot season ring). Spark computes
    the calendar-bounded daily frame distributed, then recurses over
    the collected day list in Python doubles (the pacf/Durbin-
    Levinson device — unrolling a T-step recursion as Column
    expressions explodes Catalyst); the oracle replays it as a
    list-state RECURSIVE CTE performing the identical IEEE ops in
    the identical order."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("y"))
        .orderBy("d")
    )
    ys = [r.y for r in daily.collect()]
    if len(ys) < 8:
        return daily.select(
            F.lit(1).cast("long").alias("h"), F.lit(0.0).alias("forecast")
        ).limit(0)
    l = (
        ((((((ys[0] + ys[1]) + ys[2]) + ys[3]) + ys[4]) + ys[5]) + ys[6])
        / 7.0
    )
    b = 0.0
    s = [ys[i] - l for i in range(7)]
    for t in range(7, len(ys)):
        y = ys[t]
        lnew = 0.3 * (y - s[0]) + (1.0 - 0.3) * (l + b)
        bnew = 0.05 * (lnew - l) + (1.0 - 0.05) * b
        snew = 0.2 * (y - lnew) + (1.0 - 0.2) * s[0]
        s = s[1:] + [snew]
        l, b = lnew, bnew
    rows = [(h, round(l + h * b + s[h - 1], 4)) for h in range(1, 8)]
    return spark.createDataFrame(rows, "h long, forecast double").orderBy("h")


# =====================================================================
# Round-6 third wave, part 10: responsible-AI fairness audit,
# optimizer-statistics independence-assumption audit, HRU greedy
# materialized-view selection, and min/max data-skipping audit.
# =====================================================================

@query(
    "fairness_audit_scores",
    """
    WITH scored AS MATERIALIZED (
        SELECT r.r_name AS region,
               CASE WHEN c.c_acctbal >= 0 THEN 1 ELSE 0 END AS pred,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
               ON o.o_custkey = c.c_custkey),
    g AS MATERIALIZED (
        SELECT region, CAST(count(*) AS BIGINT) AS n,
               avg(pred * 1e0) AS sel_rate,
               CASE WHEN sum(y) > 0
                    THEN sum(pred * y) * 1e0 / sum(y) END AS tpr,
               CASE WHEN count(*) - sum(y) > 0
                    THEN sum(pred * (1 - y)) * 1e0 / (count(*) - sum(y))
               END AS fpr
        FROM scored GROUP BY region),
    gl AS (
        SELECT min(sel_rate) / max(sel_rate) AS dp_ratio,
               max(tpr) - min(tpr) AS tpr_gap,
               max(fpr) - min(fpr) AS fpr_gap
        FROM g)
    SELECT region, n, round(sel_rate, 6) AS selection_rate,
           round(tpr, 6) AS tpr, round(fpr, 6) AS fpr,
           round((SELECT dp_ratio FROM gl), 6) AS dp_ratio,
           round((SELECT tpr_gap FROM gl), 6) AS tpr_gap,
           round((SELECT fpr_gap FROM gl), 6) AS fpr_gap,
           (SELECT dp_ratio FROM gl) >= 8e-1 AS passes_80pct_rule
    FROM g ORDER BY region
    """,
)
def fairness_audit_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the balance-threshold classifier
    across customer REGIONS: per-group selection rate (demographic
    parity), TPR and FPR (equalized odds), the four-fifths rule flag
    (min/max selection-rate ratio >= 0.8 — the EEOC disparate-impact
    screen), and the worst-case TPR/FPR gaps. This is the
    responsible-AI audit every scored pipeline ships next to its
    quality metrics (auc_exact / calibration / youden families);
    group metrics are exact integer ratios from ONE corpus pass, the
    fairness summary is a 5-row reduction broadcast back onto the
    per-group report."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(o, c.c_custkey == o.o_custkey, "left")
        .select(
            F.col("r_name").alias("region"),
            (F.col("c_acctbal") >= 0).cast("int").alias("pred"),
            F.col("o_custkey").isNotNull().cast("int").alias("y"),
        )
    )
    g = scored.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("pred") * 1.0).alias("sel_rate"),
        F.when(
            F.sum("y") > 0,
            F.sum(F.col("pred") * F.col("y")) * 1.0 / F.sum("y"),
        ).alias("tpr"),
        F.when(
            F.count(F.lit(1)) - F.sum("y") > 0,
            F.sum(F.col("pred") * (1 - F.col("y")))
            * 1.0
            / (F.count(F.lit(1)) - F.sum("y")),
        ).alias("fpr"),
    ).persist()
    gl = g.agg(
        (F.min("sel_rate") / F.max("sel_rate")).alias("dp_ratio"),
        (F.max("tpr") - F.min("tpr")).alias("tpr_gap"),
        (F.max("fpr") - F.min("fpr")).alias("fpr_gap"),
    )
    return (
        g.crossJoin(F.broadcast(gl))
        .select(
            "region", "n",
            F.round("sel_rate", 6).alias("selection_rate"),
            F.round("tpr", 6).alias("tpr"),
            F.round("fpr", 6).alias("fpr"),
            F.round("dp_ratio", 6).alias("dp_ratio"),
            F.round("tpr_gap", 6).alias("tpr_gap"),
            F.round("fpr_gap", 6).alias("fpr_gap"),
            (F.col("dp_ratio") >= 0.8).alias("passes_80pct_rule"),
        )
        .orderBy("region")
    )


@query(
    "selectivity_independence_audit",
    """
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS nb,
               CAST(sum(CASE WHEN o_totalprice > 150000
                             THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              AND o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS nab,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              AND o_totalprice > 150000
                             THEN 1 ELSE 0 END) AS BIGINT) AS nac,
               CAST(sum(CASE WHEN o_orderstatus = 'F'
                              AND o_totalprice > 150000
                             THEN 1 ELSE 0 END) AS BIGINT) AS nbc
        FROM orders),
    rows_ AS (
        SELECT 'priority_x_status' AS pair, na AS n1, nb AS n2, nab
                   AS n12, n FROM m
        UNION ALL
        SELECT 'priority_x_price', na, nc, nac, n FROM m
        UNION ALL
        SELECT 'status_x_price', nb, nc, nbc, n FROM m)
    SELECT pair,
           round(n1 * 1e0 / n, 6) AS sel_1,
           round(n2 * 1e0 / n, 6) AS sel_2,
           round((n1 * 1e0 / n) * (n2 * 1e0 / n), 6) AS est_sel,
           round(n12 * 1e0 / n, 6) AS actual_sel,
           CASE WHEN n12 > 0 THEN
               round(greatest(((n1 * 1e0 / n) * (n2 * 1e0 / n))
                                  / (n12 * 1e0 / n),
                              (n12 * 1e0 / n)
                                  / ((n1 * 1e0 / n) * (n2 * 1e0 / n))), 6)
           END AS q_error
    FROM rows_ ORDER BY pair
    """,
)
def selectivity_independence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics audit of the INDEPENDENCE assumption:
    for three predicate pairs on orders, the estimated conjunctive
    selectivity sel(A)*sel(B) (what every cost-based optimizer
    assumes absent multi-column statistics) vs the true sel(A AND B),
    summarized as the q-error — the metric the cardinality-estimation
    literature grades estimators by (Leis et al., 'How good are
    query optimizers, really?'). Correlated columns are where plans
    go wrong at 100 TB (a 100x cardinality miss flips join orders);
    this audit is the evidence for CREATE STATISTICS decisions. ONE
    corpus aggregate computes all seven counters; the report is
    bounded arithmetic."""
    o = _t(spark, sf_dir, "orders")
    A = F.col("o_orderpriority") == "1-URGENT"
    B = F.col("o_orderstatus") == "F"
    C = F.col("o_totalprice") > 150000
    m = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(A.cast("int")).cast("long").alias("na"),
        F.sum(B.cast("int")).cast("long").alias("nb"),
        F.sum(C.cast("int")).cast("long").alias("nc"),
        F.sum((A & B).cast("int")).cast("long").alias("nab"),
        F.sum((A & C).cast("int")).cast("long").alias("nac"),
        F.sum((B & C).cast("int")).cast("long").alias("nbc"),
    ).persist()
    rows = (
        m.select(
            F.lit("priority_x_status").alias("pair"),
            F.col("na").alias("n1"), F.col("nb").alias("n2"),
            F.col("nab").alias("n12"), "n",
        )
        .unionByName(
            m.select(
                F.lit("priority_x_price").alias("pair"),
                F.col("na").alias("n1"), F.col("nc").alias("n2"),
                F.col("nac").alias("n12"), "n",
            )
        )
        .unionByName(
            m.select(
                F.lit("status_x_price").alias("pair"),
                F.col("nb").alias("n1"), F.col("nc").alias("n2"),
                F.col("nbc").alias("n12"), "n",
            )
        )
    )
    s1 = F.col("n1") * 1.0 / F.col("n")
    s2 = F.col("n2") * 1.0 / F.col("n")
    act = F.col("n12") * 1.0 / F.col("n")
    return rows.select(
        "pair",
        F.round(s1, 6).alias("sel_1"),
        F.round(s2, 6).alias("sel_2"),
        F.round(s1 * s2, 6).alias("est_sel"),
        F.round(act, 6).alias("actual_sel"),
        F.when(
            F.col("n12") > 0,
            F.round(F.greatest((s1 * s2) / act, act / (s1 * s2)), 6),
        ).alias("q_error"),
    ).orderBy("pair")


@query(
    "minmax_pruning_audit",
    """
    WITH files AS MATERIALIZED (
        SELECT l_orderkey // 1000 AS fid,
               min(l_shipdate) AS mn, max(l_shipdate) AS mx,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_orderkey // 1000),
    preds AS (
        SELECT * FROM (VALUES
            ('q1_2024', TIMESTAMP '2024-01-01', TIMESTAMP '2024-03-31'),
            ('q3_2024', TIMESTAMP '2024-07-01', TIMESTAMP '2024-09-30'),
            ('h1_2025', TIMESTAMP '2025-01-01', TIMESTAMP '2025-06-30'))
            t(pred, lo, hi)),
    audit AS (
        SELECT p.pred,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN f.mx >= p.lo AND f.mn <= p.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
               CAST(sum(CASE WHEN f.mx >= p.lo AND f.mn <= p.hi
                             THEN f.cnt ELSE 0 END) AS BIGINT)
                   AS rows_scanned
        FROM preds p CROSS JOIN files f GROUP BY p.pred),
    act AS (
        SELECT p.pred, CAST(count(*) AS BIGINT) AS rows_matched
        FROM preds p JOIN lineitem l
          ON l.l_shipdate >= p.lo AND l.l_shipdate <= p.hi
        GROUP BY p.pred)
    SELECT a.pred, a.n_files, a.files_kept,
           round(1e0 - a.files_kept * 1e0 / a.n_files, 6) AS prune_rate,
           a.rows_scanned, coalesce(act.rows_matched, 0) AS rows_matched,
           CASE WHEN coalesce(act.rows_matched, 0) > 0
                THEN round(a.rows_scanned * 1e0 / act.rows_matched, 6)
           END AS scan_amplification
    FROM audit a LEFT JOIN act ON act.pred = a.pred
    ORDER BY a.pred
    """,
)
def minmax_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max data-skipping effectiveness audit — the parquet/
    Iceberg/Delta file-stats question: for each candidate predicate,
    how many key-range pseudo-files does the [min, max] footer test
    keep, and how many EXTRA rows does the kept set scan over the
    true match count (scan amplification — the number that says
    whether the table's layout serves the workload or needs the
    zorder_layout_audit / compaction_packing_plan treatment). Files
    are contiguous orderkey ranges so ship-date stats are naturally
    clustered-ish, exactly like ingest-ordered parquet. One corpus
    pass builds the stats inventory; the audit joins a 3-row
    predicate grid against the file-count-sized frame."""
    li = _t(spark, sf_dir, "lineitem")
    files = li.groupBy(F.expr("l_orderkey div 1000").alias("fid")).agg(
        F.min("l_shipdate").alias("mn"),
        F.max("l_shipdate").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    preds = spark.createDataFrame(
        [
            ("q1_2024", "2024-01-01", "2024-03-31"),
            ("q3_2024", "2024-07-01", "2024-09-30"),
            ("h1_2025", "2025-01-01", "2025-06-30"),
        ],
        "pred string, lo string, hi string",
    ).select(
        "pred",
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
    )
    audit = (
        files.crossJoin(F.broadcast(preds))
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(
                ((F.col("mx") >= F.col("lo")) & (F.col("mn") <= F.col("hi")))
                .cast("int")
            )
            .cast("long")
            .alias("files_kept"),
            F.sum(
                F.when(
                    (F.col("mx") >= F.col("lo")) & (F.col("mn") <= F.col("hi")),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_scanned"),
        )
    )
    act = (
        li.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("l_shipdate") >= F.col("lo"))
            & (F.col("l_shipdate") <= F.col("hi"))
        )
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("rows_matched"))
    )
    return (
        audit.join(act, "pred", "left")
        .select(
            "pred", "n_files", "files_kept",
            F.round(
                1.0 - F.col("files_kept") * 1.0 / F.col("n_files"), 6
            ).alias("prune_rate"),
            "rows_scanned",
            F.coalesce("rows_matched", F.lit(0)).alias("rows_matched"),
            F.when(
                F.coalesce("rows_matched", F.lit(0)) > 0,
                F.round(
                    F.col("rows_scanned") * 1.0 / F.col("rows_matched"), 6
                ),
            ).alias("scan_amplification"),
        )
        .orderBy("pred")
    )


_HRU_DIMS = ["p", "st", "yr", "cm"]
_HRU_NAMES = {1: "priority", 2: "status", 4: "year", 8: "custmod"}


def _hru_label_sql(vm: str) -> str:
    parts = ", ".join(
        f"CASE WHEN (({vm}) & {b}) = {b} THEN '{nm}' END"
        for b, nm in _HRU_NAMES.items()
    )
    return f"concat_ws(',', {parts})"


def _duck_hru_sql(picks: int = 3) -> str:
    size_exprs = ["CAST(1 AS BIGINT) AS s0"]
    for m in range(1, 16):
        cols = [d for i, d in enumerate(_HRU_DIMS) if m & (1 << i)]
        size_exprs.append(
            f"count(DISTINCT concat_ws('|', {', '.join(cols)})) AS s{m}"
        )
    lat_rows = " UNION ALL ".join(
        f"SELECT {m} AS mask, s{m} AS sz FROM zs" for m in range(16)
    )
    ctes = [
        """dims AS MATERIALIZED (
        SELECT o_orderpriority AS p, o_orderstatus AS st,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               o_custkey % 10 AS cm
        FROM orders)""",
        f"zs AS ({', '.join(['SELECT ' + ', '.join(size_exprs)])} FROM dims)",
        f"lat AS MATERIALIZED ({lat_rows})",
        """c0 AS (SELECT mask AS q,
               (SELECT sz FROM lat WHERE mask = 15) AS cost FROM lat)""",
    ]
    for t in range(1, picks + 1):
        ctes.append(
            f"""b{t} AS (
            SELECT v.mask AS vm, v.sz,
                   CAST(sum(CASE WHEN (c.q & v.mask) = c.q
                                  AND c.cost > v.sz
                                 THEN c.cost - v.sz ELSE 0 END) AS BIGINT)
                       AS ben
            FROM lat v, c{t - 1} c GROUP BY v.mask, v.sz)"""
        )
        ctes.append(
            f"""p{t} AS (SELECT vm, sz, ben FROM b{t}
            ORDER BY ben DESC, sz ASC, vm ASC LIMIT 1)"""
        )
        ctes.append(
            f"""c{t} AS (
            SELECT c.q, CASE WHEN (c.q & p.vm) = c.q AND p.sz < c.cost
                             THEN p.sz ELSE c.cost END AS cost
            FROM c{t - 1} c, p{t} p)"""
        )
    outs = " UNION ALL ".join(
        f"SELECT {t} AS pick_order, vm AS view_mask,"
        f" {_hru_label_sql('vm')} AS view_dims,"
        f" sz AS view_size, ben AS benefit FROM p{t}"
        for t in range(1, picks + 1)
    )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT * FROM ({outs}) ORDER BY pick_order
    """


@query("view_advisor_greedy", _duck_hru_sql())
def view_advisor_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy materialized-view selection on the data-cube lattice
    (Harinarayan, Rajaraman & Ullman, SIGMOD'96 — 'Implementing data
    cubes efficiently'): the 16 grouping sets over (priority, status,
    order-year, custkey-mod) form the lattice; each view's size is
    its exact distinct-combination count (ONE corpus aggregate
    computes all 16); the top view is assumed materialized, and 3
    greedy rounds each pick the view maximizing total benefit
    sum_q max(0, cost(q) - size(v)) over the queries q it can answer
    (q subset-of v, a bitmask test), then relax every covered
    query's cost. The greedy is within (1 - 1/e) of optimal — THE
    classic warehouse-advisor result — and here it is pure INTEGER
    arithmetic on a 16-row frame, replayed exactly by the oracle."""
    o = _t(spark, sf_dir, "orders")
    dims = o.select(
        F.col("o_orderpriority").alias("p"),
        F.col("o_orderstatus").alias("st"),
        F.year("o_orderdate").cast("long").alias("yr"),
        (F.col("o_custkey") % 10).alias("cm"),
    )
    aggs = [F.lit(1).cast("long").alias("s0")]
    for m in range(1, 16):
        cols = [d for i, d in enumerate(_HRU_DIMS) if m & (1 << i)]
        aggs.append(
            F.countDistinct(F.concat_ws("|", *[F.col(c) for c in cols]))
            .cast("long")
            .alias(f"s{m}")
        )
    zs = dims.agg(*aggs)
    lat = zs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("mask"), F.col(f"s{m}").alias("sz")
                    )
                    for m in range(16)
                ]
            )
        ).alias("z")
    ).select("z.mask", "z.sz").persist()
    top = lat.filter(F.col("mask") == 15).select(F.col("sz").alias("cost"))
    cost = lat.crossJoin(F.broadcast(top)).select(
        F.col("mask").alias("q"), "cost"
    )
    picks = []
    label = F.concat_ws(
        ",",
        *[
            F.when((F.col("vm").bitwiseAND(b)) == b, F.lit(nm))
            for b, nm in _HRU_NAMES.items()
        ],
    )
    for t in range(1, 4):
        ben = (
            lat.crossJoin(cost.withColumnRenamed("mask", "q"))
            .groupBy(F.col("mask").alias("vm"), "sz")
            .agg(
                F.sum(
                    F.when(
                        (
                            F.col("q").bitwiseAND(F.col("mask")) == F.col("q")
                        )
                        & (F.col("cost") > F.col("sz")),
                        F.col("cost") - F.col("sz"),
                    ).otherwise(0)
                )
                .cast("long")
                .alias("ben")
            )
        )
        pick = ben.orderBy(
            F.col("ben").desc(), F.col("sz").asc(), F.col("vm").asc()
        ).limit(1).localCheckpoint()
        picks.append(
            pick.select(
                F.lit(t).alias("pick_order"),
                F.col("vm").alias("view_mask"),
                label.alias("view_dims"),
                F.col("sz").alias("view_size"),
                F.col("ben").alias("benefit"),
            )
        )
        cost = (
            cost.crossJoin(F.broadcast(pick))
            .select(
                "q",
                F.when(
                    (F.col("q").bitwiseAND(F.col("vm")) == F.col("q"))
                    & (F.col("sz") < F.col("cost")),
                    F.col("sz"),
                )
                .otherwise(F.col("cost"))
                .alias("cost"),
            )
        )
    out = picks[0]
    for pdf in picks[1:]:
        out = out.unionByName(pdf)
    return out.orderBy("pick_order")


# =====================================================================
# Round-6 third wave, part 11: KNN-Shapley training-data valuation,
# Poisson GLM by IRLS-Newton, and the kernel MMD two-sample test on
# embeddings — the data-valuation, count-regression, and
# distribution-shift members their families were missing.
# =====================================================================

@query(
    "knn_shapley_valuation",
    """
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    te AS (SELECT * FROM e WHERE vec_id % 10 = 0),
    tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
    pairs AS MATERIALIZED (
        SELECT te.vec_id AS tid, tr.vec_id AS sid,
               round(list_cosine_similarity(te.v, tr.v), 9) AS cos,
               CASE WHEN tr.label = te.label THEN 1 ELSE 0 END AS ind
        FROM tr, te),
    rk AS MATERIALIZED (
        SELECT tid, sid, ind,
               CAST(row_number() OVER (PARTITION BY tid
                        ORDER BY cos DESC, sid) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY tid) AS BIGINT) AS n,
               lead(ind) OVER (PARTITION BY tid
                        ORDER BY cos DESC, sid) AS ind2
        FROM pairs),
    contrib AS (
        SELECT tid, sid,
               CASE WHEN r = n THEN ind * 1e0 / n
                    ELSE (ind - ind2) * 1e0 / r END AS c,
               r
        FROM rk),
    vals AS (
        SELECT tid, sid,
               sum(c) OVER (PARTITION BY tid ORDER BY r DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS v
        FROM contrib),
    final AS (
        SELECT sid AS vec_id, round(avg(v), 6) AS shapley_value,
               CAST(count(*) AS BIGINT) AS n_test
        FROM vals GROUP BY sid)
    SELECT vec_id, shapley_value, n_test FROM final
    ORDER BY shapley_value DESC, vec_id LIMIT 10
    """,
)
def knn_shapley_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT KNN-Shapley training-data valuation (Jia et al.,
    VLDB'19): each training embedding's Shapley value for a 1-NN
    label classifier, via the closed-form rank recursion
    v_(n) = 1[y_(n)=y]/n; v_(i) = v_(i+1) + (1[y_(i)=y] -
    1[y_(i+1)=y])/i — which telescopes into a SUFFIX SUM over the
    per-test distance ranking, so the whole game-theoretic
    attribution is two windows (row_number + running sum) partitioned
    per test point, no Monte Carlo over coalitions. This is THE
    data-valuation primitive for training-corpus curation (which
    examples help, which poison). Distances rank on 9-dp-rounded
    cosine (vec_id tie-break) so both engines sort identical keys;
    the train x test expansion is bounded by the embedding table (at
    100 TB the pair stage blocks by IVF cell, pipelines/similarity
    ivf_assign). Top-10 most valuable points returned."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )
    te = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("tid"),
        F.col("v").alias("tv"),
        F.col("label").alias("tl"),
    )
    # r9 perf: the |train| x |test| cosine fan-out otherwise executes
    # inside the 1-3-task scan stage (single-row-group parquet);
    # repartition the train side to defaultParallelism so the pair
    # scoring uses every core. Interleaved A/B at sf0.1: 1.58x med.
    tr = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("sid"),
        F.col("v").alias("sv"),
        F.col("label").alias("sl"),
    ).repartition(emb.sparkSession.sparkContext.defaultParallelism)
    pairs = tr.crossJoin(F.broadcast(te)).select(
        "tid", "sid",
        F.round(sim.cosine_similarity(F.col("tv"), F.col("sv")), 9).alias(
            "cos"
        ),
        (F.col("sl") == F.col("tl")).cast("int").alias("ind"),
    )
    wo = Window.partitionBy("tid").orderBy(F.col("cos").desc(), "sid")
    rk = pairs.select(
        "tid", "sid", "ind",
        F.row_number().over(wo).cast("long").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("tid"))
        .cast("long")
        .alias("n"),
        F.lead("ind").over(wo).alias("ind2"),
    )
    contrib = rk.select(
        "tid", "sid", "r",
        F.when(F.col("r") == F.col("n"), F.col("ind") * 1.0 / F.col("n"))
        .otherwise((F.col("ind") - F.col("ind2")) * 1.0 / F.col("r"))
        .alias("c"),
    )
    ws = Window.partitionBy("tid").orderBy(F.col("r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vals = contrib.select("tid", "sid", F.sum("c").over(ws).alias("v"))
    final = vals.groupBy(F.col("sid").alias("vec_id")).agg(
        F.round(F.avg("v"), 6).alias("shapley_value"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
    )
    return final.orderBy(F.col("shapley_value").desc(), "vec_id").limit(10)


_GLM_MU = "exp(pa + pb * x)"
_GLM_SUMS = (
    f"sum((sy - n * {_GLM_MU})) AS g2, "
    f"sum((sy - n * {_GLM_MU}) * x) AS g1, "
    f"sum(n * {_GLM_MU} * x * x) AS h11, "
    f"sum(n * {_GLM_MU} * x) AS h12, "
    f"sum(n * {_GLM_MU}) AS h22"
)


def _duck_glm_sql(rounds: int = 6) -> str:
    ctes = [
        """cust AS MATERIALIZED (
        SELECT c.c_acctbal / 5000e0 AS x,
               CAST(coalesce(oc.cnt, 0) AS DOUBLE) AS y
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
                   GROUP BY o_custkey) oc ON oc.o_custkey = c.c_custkey),
    d AS MATERIALIZED (
        SELECT x, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy
        FROM cust GROUP BY x),
    g0_ AS (SELECT ln((SELECT sum(sy) / sum(n) FROM d)) AS pa, 0e0 AS pb)"""
    ]
    prev = "g0_"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""g{t}_ AS (
            SELECT pa + (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12)
                       AS pa,
                   pb + (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12)
                       AS pb
            FROM (SELECT max(pa) AS pa, max(pb) AS pb, {_GLM_SUMS}
                  FROM d, {prev}))"""
        )
        prev = f"g{t}_"
    ctes.append(
        f"""fin AS (
        SELECT max(pa) AS a, max(pb) AS b,
               CAST(sum(n) AS BIGINT) AS n_all,
               sum(sy * (pa + pb * x) - n * {_GLM_MU}) AS qll
        FROM d, {prev})"""
    )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT n_all AS n, round(a, 6) AS a, round(b, 6) AS b,
           round(exp(b), 6) AS rate_ratio, round(qll, 4) AS quasi_loglik
    FROM fin
    """


@query("glm_poisson_orders", _duck_glm_sql())
def glm_poisson_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson GLM (log link) of per-customer order counts on scaled
    account balance, fit by 6 unrolled IRLS-Newton steps — the COUNT
    regression member of the fitted-model family (OLS for levels,
    logistic/Platt for binary, Cox for hazards, this for counts;
    negbinom_fit is its overdispersed moment-matched cousin).
    Sufficient statistics group once to the distinct-covariate
    frame; each step is one 5-sum aggregation against a 1-row
    broadcast (a, b), with the 2x2 Fisher information solved in
    closed form. Intercept initialized at ln(mean rate) — the
    standard GLM start that keeps exp() bounded. Reports exp(b),
    the rate ratio per unit of x, and the constant-free
    quasi-loglik."""
    c = _t(spark, sf_dir, "customer")
    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cust = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        (F.col("c_acctbal") / 5000.0).alias("x"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("double").alias("y"),
    )
    d = cust.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").alias("sy")
    ).persist()
    init = d.agg(F.log(F.sum("sy") / F.sum("n")).alias("pa"))
    g = init.select("pa", F.lit(0.0).alias("pb"))
    for _ in range(6):
        s = d.crossJoin(F.broadcast(g)).agg(
            F.max("pa").alias("pa"),
            F.max("pb").alias("pb"),
            *[
                F.expr(part.rsplit(" AS ", 1)[0]).alias(
                    part.rsplit(" AS ", 1)[1]
                )
                for part in _GLM_SUMS.split(", ")
            ],
        )
        det = F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        g = s.select(
            (
                F.col("pa")
                + (F.col("h11") * F.col("g2") - F.col("h12") * F.col("g1")) / det
            ).alias("pa"),
            (
                F.col("pb")
                + (F.col("h22") * F.col("g1") - F.col("h12") * F.col("g2")) / det
            ).alias("pb"),
        )
    fin = d.crossJoin(F.broadcast(g)).agg(
        F.max("pa").alias("a"),
        F.max("pb").alias("b"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum(
            F.col("sy") * (F.col("pa") + F.col("pb") * F.col("x"))
            - F.col("n") * F.expr(_GLM_MU)
        ).alias("qll"),
    )
    return fin.select(
        F.col("n_all").alias("n"),
        F.round("a", 6).alias("a"),
        F.round("b", 6).alias("b"),
        F.round(F.exp("b"), 6).alias("rate_ratio"),
        F.round("qll", 4).alias("quasi_loglik"),
    )


@query(
    "mmd_embeddings",
    """
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS gx,
               list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
                   AS nrm
        FROM embeddings),
    ap AS MATERIALIZED (
        SELECT a.gx AS ga, b.gx AS gb,
               a.nrm + b.nrm - 2e0 * list_dot_product(a.v, b.v) AS d2
        FROM e a, e b),
    sg AS (SELECT sum(d2) / count(*) AS sigma2 FROM ap),
    km AS (
        SELECT ga, gb,
               sum(exp(-d2 / (2e0 * (SELECT sigma2 FROM sg)))) AS sk,
               CAST(count(*) AS BIGINT) AS n
        FROM ap GROUP BY ga, gb),
    parts AS (
        SELECT sum(CASE WHEN ga = 1 AND gb = 1 THEN sk / n END) AS kxx,
               sum(CASE WHEN ga = 0 AND gb = 0 THEN sk / n END) AS kyy,
               sum(CASE WHEN ga <> gb THEN sk END)
                   / sum(CASE WHEN ga <> gb THEN n END) AS kxy
        FROM km),
    cnt AS (
        SELECT CAST(sum(gx) AS BIGINT) AS n_x,
               CAST(count(*) - sum(gx) AS BIGINT) AS n_y
        FROM e)
    SELECT n_x, n_y,
           round((SELECT sigma2 FROM sg), 6) AS sigma2,
           round(kxx + kyy - 2e0 * kxy, 6) AS mmd2,
           round(sqrt(greatest(kxx + kyy - 2e0 * kxy, 0e0)), 6) AS mmd
    FROM parts, cnt
    """,
)
def mmd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel maximum mean discrepancy (Gretton et al., JMLR'12)
    between the two embedding populations (labels 0-4 vs 5-9): the
    RBF-kernel V-statistic MMD^2 = E k(x,x') + E k(y,y') - 2 E k(x,y)
    with the bandwidth set by the MEAN pairwise squared distance (the
    sum-based cousin of the median heuristic — pure algebra, no
    float-order-sensitive quantile). MMD is the standard
    distribution-shift test for representation spaces — the kernel
    member next to energy_distance (distance-based) and
    embedding_drift_by_label (moment-based). Since r7 the pair
    expansion runs as BLOCKED numpy passes (the blocked_exact_top1
    device, VERDICT r6 item 4's pattern): rows hash into blocks, the
    comparison side replicates per block, and each block computes its
    (L x N) squared-distance matrix vectorized — two passes (sigma^2
    needs the global mean d2 before the kernel sums), zero Catalyst
    per-pair lambdas, no driver collect (sigma^2 rides a broadcast
    column into pass 2). Kernel SUMS are reduction-order-insensitive
    at the 6dp rounding by construction (they already crossed
    Spark-partial vs DuckDB-sequential order before this change)."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("label") < 5).cast("int").alias("gx"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    _B = 8
    _left = emb.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(_B)).cast("int")
    ).withColumn("side", F.lit(0))
    _rep = emb.withColumn(
        "blk", F.explode(F.array(*[F.lit(i).cast("int") for i in range(_B)]))
    ).withColumn("side", F.lit(1))
    both = _left.unionByName(_rep).persist()

    def _d2_block(pdf: pd.DataFrame):
        lp = pdf[pdf["side"] == 0]
        rp = pdf[pdf["side"] == 1]
        if len(lp) == 0 or len(rp) == 0:
            return None
        # shared sequential-fold device (sim._block_dots): bit-identical
        # doubles vs the SQL dot across all three engines
        acc, na, nb = sim._block_dots(lp, rp)
        d2 = na[:, None] + nb[None, :] - 2.0 * acc
        return lp, rp, d2

    def _pass1(pdf: pd.DataFrame) -> pd.DataFrame:
        blk = _d2_block(pdf)
        if blk is None:
            return pd.DataFrame({"n": pd.Series(dtype="int64"),
                                 "d2s": pd.Series(dtype="float64")})
        _lp, _rp, d2 = blk
        return pd.DataFrame({"n": [d2.size], "d2s": [float(d2.sum())]})

    def _pass2(pdf: pd.DataFrame) -> pd.DataFrame:
        blk = _d2_block(pdf)
        if blk is None:
            return pd.DataFrame({"ga": pd.Series(dtype="int32"),
                                 "gb": pd.Series(dtype="int32"),
                                 "sk": pd.Series(dtype="float64"),
                                 "n": pd.Series(dtype="int64")})
        lp, rp, d2 = blk
        s2 = float(pdf["sigma2"].iloc[0])
        km_ = np.exp(-d2 / (2.0 * s2))
        ga = lp["gx"].to_numpy()
        gb = rp["gx"].to_numpy()
        rows = []
        for a_ in (0, 1):
            for b_ in (0, 1):
                m = km_[ga == a_][:, gb == b_]
                if m.size:
                    rows.append((a_, b_, float(m.sum()), int(m.size)))
        return pd.DataFrame(rows, columns=["ga", "gb", "sk", "n"])

    p1 = both.groupBy("blk").applyInPandas(_pass1, schema="n long, d2s double")
    sg = p1.agg((F.sum("d2s") / F.sum("n")).alias("sigma2"))
    km = (
        both.crossJoin(F.broadcast(sg))
        .groupBy("blk")
        .applyInPandas(_pass2, schema="ga int, gb int, sk double, n long")
        .groupBy("ga", "gb")
        .agg(F.sum("sk").alias("sk"), F.sum("n").cast("long").alias("n"))
    )
    parts = km.agg(
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("gb") == 1), F.col("sk") / F.col("n"))
        ).alias("kxx"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("gb") == 0), F.col("sk") / F.col("n"))
        ).alias("kyy"),
        (
            F.sum(F.when(F.col("ga") != F.col("gb"), F.col("sk")))
            / F.sum(F.when(F.col("ga") != F.col("gb"), F.col("n")))
        ).alias("kxy"),
    )
    cnt = emb.agg(
        F.sum("gx").cast("long").alias("n_x"),
        (F.count(F.lit(1)) - F.sum("gx")).cast("long").alias("n_y"),
    )
    mmd2 = F.col("kxx") + F.col("kyy") - 2.0 * F.col("kxy")
    return (
        parts.crossJoin(F.broadcast(cnt))
        .crossJoin(F.broadcast(sg))
        .select(
            "n_x", "n_y",
            F.round("sigma2", 6).alias("sigma2"),
            F.round(mmd2, 6).alias("mmd2"),
            F.round(F.sqrt(F.greatest(mmd2, F.lit(0.0))), 6).alias("mmd"),
        )
    )


# =====================================================================
# Round-6 third wave, part 12: Erlang-C staffing curve (queueing
# theory on the shared lgamma text), partial-correlation causal
# screen (the PC-algorithm's step zero), and hash-deterministic
# RANSAC line fitting.
# =====================================================================

_ERLANG_MU = 50.0  # service rate per hour per server


@query(
    "erlang_c_staffing",
    f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY date_trunc('hour', ts)),
    lam AS (SELECT avg(n * 1e0) AS lambda FROM hourly),
    grid AS (
        SELECT unnest(generate_series(1, 10)) AS c,
               (SELECT lambda FROM lam) AS lambda),
    terms AS (
        SELECT g.c, g.lambda, ks.k,
               exp(ks.k * ln(g.lambda / {_ERLANG_MU})
                   - {_lfact_sql('ks.k')}) AS term
        FROM grid g, LATERAL (
            SELECT unnest(generate_series(0, g.c - 1)) AS k) ks),
    sums AS (
        SELECT c, lambda, sum(term) AS s0 FROM terms GROUP BY c, lambda),
    ec AS (
        SELECT c, lambda, lambda / ({_ERLANG_MU} * c) AS rho,
               exp(c * ln(lambda / {_ERLANG_MU}) - {_lfact_sql('c')})
                   AS ac,
               s0
        FROM sums)
    SELECT c, round(rho, 6) AS utilization,
           CASE WHEN rho < 1 THEN
               round(ac / ((1e0 - rho) * s0 + ac), 6) END AS p_wait,
           CASE WHEN rho < 1 THEN
               round((ac / ((1e0 - rho) * s0 + ac))
                     / ({_ERLANG_MU} * c - lambda), 6) END AS avg_wait_hours,
           rho < 1 AS stable
    FROM ec ORDER BY c
    """,
)
def erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing curve: with the measured mean hourly event
    arrival rate and a fixed per-server service rate, the exact
    M/M/c waiting probability P_wait = (a^c/c!) / ((1-rho) sum_(k<c)
    a^k/k! + a^c/c!) and mean wait for c = 1..10 servers — the
    capacity-planning closed form behind every support-desk / worker
    -pool sizing sheet, and the queueing-theory member next to the
    empirical latency family (order_interarrival_stats,
    watermark_lateness_audit). Factorials ride the engine-shared
    lgamma text as exp(k ln a - ln k!) so nothing overflows;
    unstable rows (rho >= 1) return NULL waits with the flag. One
    corpus pass measures lambda; the staffing curve is a 10-row
    grid with c-bounded term sums."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(_trunc_ntz("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    lam = hourly.agg(F.avg(F.col("n") * 1.0).alias("lambda"))
    grid = lam.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("c"), "lambda"
    )
    terms = grid.select(
        "c", "lambda", F.explode(F.sequence(F.lit(0), F.col("c") - 1)).alias("k")
    ).select(
        "c", "lambda",
        F.expr(
            f"exp(k * ln(lambda / {_ERLANG_MU}) - {_lfact_sql('k')})"
        ).alias("term"),
    )
    sums = terms.groupBy("c", "lambda").agg(F.sum("term").alias("s0"))
    ec = sums.select(
        "c", "lambda",
        (F.col("lambda") / (_ERLANG_MU * F.col("c"))).alias("rho"),
        F.expr(
            f"exp(c * ln(lambda / {_ERLANG_MU}) - {_lfact_sql('c')})"
        ).alias("ac"),
        "s0",
    )
    p_wait = F.col("ac") / ((1.0 - F.col("rho")) * F.col("s0") + F.col("ac"))
    return ec.select(
        "c",
        F.round("rho", 6).alias("utilization"),
        F.when(F.col("rho") < 1, F.round(p_wait, 6)).alias("p_wait"),
        F.when(
            F.col("rho") < 1,
            F.round(
                p_wait / (_ERLANG_MU * F.col("c") - F.col("lambda")), 6
            ),
        ).alias("avg_wait_hours"),
        (F.col("rho") < 1).alias("stable"),
    ).orderBy("c")


@query(
    "partial_correlation_screen",
    """
    WITH per_order AS MATERIALIZED (
        SELECT o.o_totalprice AS x,
               CAST(count(*) AS DOUBLE) AS y,
               avg(l.l_discount) AS z
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               avg(x) AS mx, avg(y) AS my, avg(z) AS mz,
               avg(x * x) AS mxx, avg(y * y) AS myy, avg(z * z) AS mzz,
               avg(x * y) AS mxy, avg(x * z) AS mxz, avg(y * z) AS myz
        FROM per_order),
    r AS (
        SELECT n,
               (mxy - mx * my) / sqrt((mxx - mx * mx) * (myy - my * my))
                   AS rxy,
               (mxz - mx * mz) / sqrt((mxx - mx * mx) * (mzz - mz * mz))
                   AS rxz,
               (myz - my * mz) / sqrt((myy - my * my) * (mzz - mz * mz))
                   AS ryz
        FROM m)
    SELECT * FROM (
        SELECT 'price_vs_items_given_disc' AS pair, n,
               round(rxy, 6) AS r,
               round((rxy - rxz * ryz)
                     / sqrt((1e0 - rxz * rxz) * (1e0 - ryz * ryz)), 6)
                   AS partial_r,
               abs((rxy - rxz * ryz)
                   / sqrt((1e0 - rxz * rxz) * (1e0 - ryz * ryz))) < 5e-2
                   AS cond_independent
        FROM r
        UNION ALL
        SELECT 'price_vs_disc_given_items', n, round(rxz, 6),
               round((rxz - rxy * ryz)
                     / sqrt((1e0 - rxy * rxy) * (1e0 - ryz * ryz)), 6),
               abs((rxz - rxy * ryz)
                   / sqrt((1e0 - rxy * rxy) * (1e0 - ryz * ryz))) < 5e-2
        FROM r
        UNION ALL
        SELECT 'items_vs_disc_given_price', n, round(ryz, 6),
               round((ryz - rxy * rxz)
                     / sqrt((1e0 - rxy * rxy) * (1e0 - rxz * rxz)), 6),
               abs((ryz - rxy * rxz)
                   / sqrt((1e0 - rxy * rxy) * (1e0 - rxz * rxz))) < 5e-2
        FROM r)
    ORDER BY pair
    """,
)
def partial_correlation_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlations among (order value, item
    count, mean discount): r_xy.z = (r_xy - r_xz r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)) for each pair given the third — the
    conditional-independence screen that is STEP ZERO of
    constraint-based causal discovery (the PC algorithm removes an
    edge exactly when some partial correlation vanishes), and the
    multivariate upgrade of feature_correlations (marginal only: a
    large r_xy with near-zero r_xy.z is the confounding signature).
    ONE aggregation computes all nine moments from one corpus pass;
    the screen is closed-form arithmetic."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).cast("double").alias("y"),
            F.avg("l_discount").alias("z"),
        )
        .select(F.col("o_totalprice").alias("x"), "y", "z")
    )
    m = per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"), F.avg("z").alias("mz"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
        F.avg(F.col("z") * F.col("z")).alias("mzz"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("z")).alias("mxz"),
        F.avg(F.col("y") * F.col("z")).alias("myz"),
    )
    r = m.select(
        "n",
        (
            (F.col("mxy") - F.col("mx") * F.col("my"))
            / F.sqrt(
                (F.col("mxx") - F.col("mx") * F.col("mx"))
                * (F.col("myy") - F.col("my") * F.col("my"))
            )
        ).alias("rxy"),
        (
            (F.col("mxz") - F.col("mx") * F.col("mz"))
            / F.sqrt(
                (F.col("mxx") - F.col("mx") * F.col("mx"))
                * (F.col("mzz") - F.col("mz") * F.col("mz"))
            )
        ).alias("rxz"),
        (
            (F.col("myz") - F.col("my") * F.col("mz"))
            / F.sqrt(
                (F.col("myy") - F.col("my") * F.col("my"))
                * (F.col("mzz") - F.col("mz") * F.col("mz"))
            )
        ).alias("ryz"),
    ).persist()

    def _row(name, rab, rac, rbc):
        pr = (F.col(rab) - F.col(rac) * F.col(rbc)) / F.sqrt(
            (1.0 - F.col(rac) * F.col(rac)) * (1.0 - F.col(rbc) * F.col(rbc))
        )
        return r.select(
            F.lit(name).alias("pair"),
            "n",
            F.round(F.col(rab), 6).alias("r"),
            F.round(pr, 6).alias("partial_r"),
            (F.abs(pr) < 0.05).alias("cond_independent"),
        )

    out = (
        _row("price_vs_items_given_disc", "rxy", "rxz", "ryz")
        .unionByName(_row("price_vs_disc_given_items", "rxz", "rxy", "ryz"))
        .unionByName(_row("items_vs_disc_given_price", "ryz", "rxy", "rxz"))
    )
    return out.orderBy("pair")


_RANSAC_SETS = 16
_RANSAC_TAU = 1000.0


def _duck_ransac_sql_head() -> str:
    """Minimal-set argmins + candidate lines (shared head of the
    RANSAC oracle)."""
    def h(salt: str) -> str:
        return _DUCK_H60.format(
            args="CAST(l_orderkey AS VARCHAR) || '-' ||"
            f" CAST(l_linenumber AS VARCHAR), '{salt}'"
        )

    mins = ", ".join(
        f"min(struct_pack(h := {h(f'rs{ab}{s}')}, k := "
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),"
        " x := CAST(l_quantity AS DOUBLE),"
        f" y := l_extendedprice)) AS p{s}{ab}"
        for s in range(_RANSAC_SETS)
        for ab in ("a", "b")
    )
    line_rows = " UNION ALL ".join(
        f"SELECT {s} AS s, p{s}a.x AS x1, p{s}a.y AS y1,"
        f" p{s}b.x AS x2, p{s}b.y AS y2 FROM mins"
        for s in range(_RANSAC_SETS)
    )
    return f"""
    WITH mins AS MATERIALIZED (SELECT {mins} FROM lineitem),
    lines AS MATERIALIZED (
        SELECT s, (y2 - y1) / (x2 - x1) AS slope0,
               y1 - (y2 - y1) / (x2 - x1) * x1 AS intercept0
        FROM ({line_rows}) WHERE x1 <> x2)"""


def _duck_ransac_sql_final() -> str:
    return f"""{_duck_ransac_sql_head()},
    inl AS (
        SELECT lines.s, lines.slope0, lines.intercept0,
               CAST(count(*) AS BIGINT) AS n_inliers
        FROM lineitem l, lines
        WHERE abs(l.l_extendedprice
                  - (lines.slope0 * l.l_quantity + lines.intercept0))
              <= {_RANSAC_TAU}
        GROUP BY lines.s, lines.slope0, lines.intercept0),
    best AS (
        SELECT * FROM inl ORDER BY n_inliers DESC, s LIMIT 1),
    fit AS (
        SELECT best.s, best.slope0, best.intercept0, best.n_inliers,
               CAST(count(*) AS BIGINT) AS n_check,
               avg(CAST(l.l_quantity AS DOUBLE)) AS mx,
               avg(l.l_extendedprice) AS my,
               avg(CAST(l.l_quantity AS DOUBLE) * l.l_extendedprice) AS mxy,
               avg(CAST(l.l_quantity AS DOUBLE)
                   * CAST(l.l_quantity AS DOUBLE)) AS mxx
        FROM lineitem l, best
        WHERE abs(l.l_extendedprice
                  - (best.slope0 * l.l_quantity + best.intercept0))
              <= {_RANSAC_TAU}
        GROUP BY best.s, best.slope0, best.intercept0, best.n_inliers),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM lineitem)
    SELECT s AS best_set, n_inliers,
           round(n_inliers * 1e0 / (SELECT n_all FROM tot), 6)
               AS inlier_rate,
           round(slope0, 6) AS slope0, round(intercept0, 6) AS intercept0,
           round((mxy - mx * my) / (mxx - mx * mx), 6) AS slope,
           round(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6)
               AS intercept
    FROM fit
    """


@query("ransac_line_fit", _duck_ransac_sql_final())
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic RANSAC (Fischler-Bolles 1981) on the
    quantity -> extended-price relation: 16 minimal 2-point sets are
    drawn by h60 argmin (min over struct(hash, key, x, y) — the
    replayable 'random' sample both engines reproduce), each candidate
    line is scored by its inlier count within tau = 1000, the
    consensus winner is refit by OLS on ITS inliers. RANSAC tolerates
    the arbitrary-outlier regime where Huber (bounded influence) and
    Theil-Sen (29% breakdown) both fail — completing the robust-
    regression family. Scale shape: the 32 argmins are ONE aggregate
    pass; inlier scoring is one pass against a 16-row broadcast line
    frame; the refit is one filtered moment aggregate — three corpus
    passes total, no pairwise anything."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.format_string("%d-%d", "l_orderkey", "l_linenumber")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice")
    mins = li.agg(
        *[
            F.min(
                F.struct(
                    mls.hash60(key, F.lit(f"rs{ab}{s}")).alias("h"),
                    key.alias("k"),
                    x.alias("x"),
                    y.alias("y"),
                )
            ).alias(f"p{s}{ab}")
            for s in range(_RANSAC_SETS)
            for ab in ("a", "b")
        ]
    )
    lines = None
    for s in range(_RANSAC_SETS):
        row = mins.select(
            F.lit(s).alias("s"),
            F.col(f"p{s}a.x").alias("x1"),
            F.col(f"p{s}a.y").alias("y1"),
            F.col(f"p{s}b.x").alias("x2"),
            F.col(f"p{s}b.y").alias("y2"),
        )
        lines = row if lines is None else lines.unionByName(row)
    lines = (
        lines.filter(F.col("x1") != F.col("x2"))
        .select(
            "s",
            ((F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))).alias(
                "slope0"
            ),
            (
                F.col("y1")
                - (F.col("y2") - F.col("y1"))
                / (F.col("x2") - F.col("x1"))
                * F.col("x1")
            ).alias("intercept0"),
        )
        .localCheckpoint()
    )
    resid = F.abs(
        y - (F.col("slope0") * F.col("l_quantity") + F.col("intercept0"))
    )
    inl = (
        li.crossJoin(F.broadcast(lines))
        .filter(resid <= _RANSAC_TAU)
        .groupBy("s", "slope0", "intercept0")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inliers"))
    )
    best = inl.orderBy(F.col("n_inliers").desc(), "s").limit(1)
    fit = (
        li.crossJoin(F.broadcast(best))
        .filter(resid <= _RANSAC_TAU)
        .groupBy("s", "slope0", "intercept0", "n_inliers")
        .agg(
            F.avg(x).alias("mx"),
            F.avg(y).alias("my"),
            F.avg(x * y).alias("mxy"),
            F.avg(x * x).alias("mxx"),
        )
    )
    tot = li.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    slope = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    return fit.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("best_set"),
        "n_inliers",
        F.round(F.col("n_inliers") * 1.0 / F.col("n_all"), 6).alias(
            "inlier_rate"
        ),
        F.round("slope0", 6).alias("slope0"),
        F.round("intercept0", 6).alias("intercept0"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
    )


# =====================================================================
# Round-6 third wave, part 11: supervised text classification (exact
# multinomial Naive Bayes), distribution-free predictive intervals
# (split conformal regression), and the stratified 2x2 pooled test
# (Cochran-Mantel-Haenszel) — three inference families the catalog's
# heuristic langid / OLS trends / per-stratum Simpson screen report
# into but never close with a trained-and-audited counterpart.
# =====================================================================

_NB_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _duck_nb_sql() -> str:
    h = _DUCK_H60.format(args="CAST(doc_id AS VARCHAR), 'nb'")
    return f"""
    WITH tr AS MATERIALIZED (
        SELECT doc_id, lang, text FROM documents WHERE {h} % 5 <> 0),
    te AS MATERIALIZED (
        SELECT doc_id, lang AS actual, text FROM documents
        WHERE {h} % 5 = 0),
    trtok AS MATERIALIZED (
        SELECT lang, unnest({_NB_TOKS}) AS tok FROM tr),
    cnt AS MATERIALIZED (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
        FROM trtok GROUP BY 1, 2),
    lstat AS MATERIALIZED (
        SELECT lang, CAST(count(*) AS BIGINT) AS ntok
        FROM trtok GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz FROM trtok),
    prior AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd
              FROM tr GROUP BY 1),
    ndtot AS (SELECT CAST(count(*) AS BIGINT) AS nd_all FROM tr),
    tetok AS MATERIALIZED (
        SELECT doc_id, unnest({_NB_TOKS}) AS tok FROM te),
    tentok AS (
        SELECT te.doc_id, CAST(count(t.tok) AS BIGINT) AS ntk
        FROM te LEFT JOIN tetok t ON t.doc_id = te.doc_id
        GROUP BY 1),
    stok AS (
        SELECT t.doc_id, l.lang,
               sum(ln(1e0 + COALESCE(c.c, 0))) AS sl
        FROM tetok t
        CROSS JOIN lstat l
        LEFT JOIN cnt c ON c.lang = l.lang AND c.tok = t.tok
        GROUP BY 1, 2),
    sc AS (
        SELECT te.doc_id, te.actual, ls.lang,
               COALESCE(st.sl, 0e0)
               - tn.ntk * ln(CAST(ls.ntok AS DOUBLE) + (SELECT vsz FROM v))
               + ln(pr.nd * 1e0 / (SELECT nd_all FROM ndtot)) AS score
        FROM te
        JOIN tentok tn ON tn.doc_id = te.doc_id
        CROSS JOIN lstat ls
        JOIN prior pr ON pr.lang = ls.lang
        LEFT JOIN stok st ON st.doc_id = te.doc_id AND st.lang = ls.lang),
    mx AS (SELECT doc_id, max(score) AS ms FROM sc GROUP BY 1),
    pred AS (
        SELECT s.doc_id, min(s.lang) AS predicted
        FROM sc s JOIN mx ON mx.doc_id = s.doc_id
        WHERE s.score >= mx.ms - 1e-6
        GROUP BY 1),
    cm AS (
        SELECT te.actual, p.predicted, CAST(count(*) AS BIGINT) AS n
        FROM te JOIN pred p ON p.doc_id = te.doc_id
        GROUP BY 1, 2),
    acc AS (
        SELECT sum(CASE WHEN actual = predicted THEN n ELSE 0 END)
               * 1.0 / sum(n) AS a
        FROM cm)
    SELECT actual, predicted, n,
           round((SELECT a FROM acc), 6) AS overall_accuracy
    FROM cm ORDER BY actual, predicted
    """


@query("naive_bayes_lang", _duck_nb_sql())
def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT multinomial Naive Bayes language classifier trained on an
    80% hash split of the documents table and audited on the held-out
    20% — the supervised counterpart of the stopword-heuristic
    language_id_docs (langid_confusion_matrix showed WHERE the
    heuristic confuses; this is the model you train FROM those labels
    at 100 TB). Laplace-smoothed token likelihoods, log-domain
    scoring decomposed as sum ln(c+1) - n_tokens*ln(n_lang + V) +
    ln(prior) so the corpus-sized term is ONE explode + (token,lang)
    equi-join; prediction = argmax with a 1e-6-band min-lang
    tie-break both engines replay identically. Scale shape: training
    is one explode+groupBy (map-side combinable); scoring joins test
    tokens to the (token,lang) count table on token — broadcast-able
    while vocab*langs is dimension-sized, plain shuffle equi-join
    beyond. No per-row Python, no driver loops."""
    docs = _t(spark, sf_dir, "documents")
    h = mls.hash60(F.col("doc_id").cast("string"), F.lit("nb")) % 5
    tr = docs.filter(h != 0)
    te = docs.filter(h == 0).select(
        "doc_id", F.col("lang").alias("actual"), "text"
    )
    trtok = tr.select(
        "lang", F.explode(ptx.tokens("text")).alias("tok")
    ).persist()
    cnt = trtok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lstat = trtok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("ntok")
    )
    vsz = trtok.agg(
        F.countDistinct("tok").cast("long").alias("vsz")
    )
    prior = tr.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    ndtot = tr.agg(F.count(F.lit(1)).cast("long").alias("nd_all"))
    lang_dim = (
        lstat.join(prior, "lang")
        .crossJoin(F.broadcast(vsz))
        .crossJoin(F.broadcast(ndtot))
    )
    tetok = te.select("doc_id", F.explode(ptx.tokens("text")).alias("tok"))
    tentok = te.join(tetok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("ntk")
    ), "doc_id", "left").select(
        "doc_id", "actual", F.coalesce("ntk", F.lit(0)).alias("ntk")
    )
    stok = (
        tetok.crossJoin(F.broadcast(lang_dim.select("lang")))
        .join(cnt, ["lang", "tok"], "left")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.log(1.0 + F.coalesce(F.col("c"), F.lit(0)))).alias("sl"))
    )
    sc = (
        tentok.crossJoin(F.broadcast(lang_dim))
        .join(stok, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "actual",
            "lang",
            (
                F.coalesce("sl", F.lit(0.0))
                - F.col("ntk")
                * F.log(F.col("ntok").cast("double") + F.col("vsz"))
                + F.log(F.col("nd") * 1.0 / F.col("nd_all"))
            ).alias("score"),
        )
    )
    mxw = Window.partitionBy("doc_id")
    pred = (
        sc.withColumn("ms", F.max("score").over(mxw))
        .filter(F.col("score") >= F.col("ms") - 1e-6)
        .groupBy("doc_id", "actual")
        .agg(F.min("lang").alias("predicted"))
    )
    cm = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()
    acc = cm.agg(
        (
            F.sum(
                F.when(F.col("actual") == F.col("predicted"), F.col("n"))
                .otherwise(0)
            )
            * 1.0
            / F.sum("n")
        ).alias("a")
    )
    return (
        cm.crossJoin(F.broadcast(acc))
        .select(
            "actual", "predicted", "n",
            F.round("a", 6).alias("overall_accuracy"),
        )
        .orderBy("actual", "predicted")
    )


def _duck_conformal_sql() -> str:
    h = _DUCK_H60.format(
        args="CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR), 'cf'"
    )
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {h} % 4 AS b,
               CAST(round(l_quantity) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
        FROM lineitem),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS DOUBLE) AS sx,
               CAST(sum(yc) AS DOUBLE) / 100e0 AS sy,
               CAST(sum(q * yc) AS DOUBLE) / 100e0 AS sxy,
               CAST(sum(q * q) AS DOUBLE) AS sxx
        FROM base WHERE b <= 1),
    fit AS (
        SELECT n AS n_train,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS intercept
        FROM mom),
    cal AS (
        SELECT abs(yc / 100e0
                   - ((SELECT slope FROM fit) * q
                      + (SELECT intercept FROM fit))) AS r
        FROM base WHERE b = 2),
    kk AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cal,
               CAST(floor((9e0 * (count(*) + 1) + 9) / 10) AS BIGINT) AS k
        FROM cal),
    rk AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY r),
    cum AS (SELECT r, sum(c) OVER (ORDER BY r) AS cc FROM rk),
    qh AS (SELECT min(r) AS qhat FROM cum WHERE cc >= (SELECT k FROM kk)),
    te AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs(yc / 100e0
                            - ((SELECT slope FROM fit) * q
                               + (SELECT intercept FROM fit)))
                        <= (SELECT qhat FROM qh) THEN 1 ELSE 0 END)
                    AS BIGINT) AS covered
        FROM base WHERE b = 3)
    SELECT (SELECT n_train FROM fit) AS n_train,
           (SELECT n_cal FROM kk) AS n_cal,
           (SELECT k FROM kk) AS k,
           n_test, covered,
           round((SELECT slope FROM fit), 6) AS slope,
           round((SELECT intercept FROM fit), 6) AS intercept,
           round((SELECT qhat FROM qh), 6) AS qhat,
           round(covered * 1e0 / n_test, 6) AS coverage,
           round(2e0 * (SELECT qhat FROM qh), 6) AS interval_width,
           9e-1 AS target_coverage
    FROM te
    """


@query("conformal_interval_audit", _duck_conformal_sql())
def conformal_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction (Vovk; Lei et al. JASA'18) on the
    quantity -> extended-price regression: OLS fit on a 50% hash
    split, nonconformity |y - yhat| calibrated on 25%, the finite-
    sample quantile k = ceil(0.9 (n_cal+1)) turned into a symmetric
    interval audited for empirical coverage on the held-out 25% —
    the DISTRIBUTION-FREE guarantee (coverage >= 90% in expectation,
    no Gaussian residual assumption) that the catalog's OLS/GLM
    trend fits report t-intervals for. Bit-stability: moments
    accumulate in exact integer cents/quantities (order-free), the
    slope/intercept doubles are computed from identical exact sums
    by identical expression text, so residuals are ulp-identical on
    both engines and the coverage comparison r <= qhat never flips.
    Scale shape: the calibration order statistic runs through
    bucketed_prefix_sums (range-bucketed parallel rank, no global
    sort; VERDICT r5 item 5a device) at n_buckets=64; everything
    else is three filtered moment aggregates over one scan of the
    hash-bucketed base frame."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        (
            mls.hash60(
                F.format_string("%d-%d", "l_orderkey", "l_linenumber"),
                F.lit("cf"),
            )
            % 4
        ).alias("b"),
        F.round("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yc"),
    )
    mom = base.filter(F.col("b") <= 1).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("double").alias("sx"),
        (F.sum("yc").cast("double") / 100.0).alias("sy"),
        (F.sum(F.col("q") * F.col("yc")).cast("double") / 100.0).alias("sxy"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = mom.select(
        n.alias("n_train"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    ).localCheckpoint()
    resid = F.abs(
        F.col("yc") / F.lit(100.0)
        - (F.col("slope") * F.col("q") + F.col("intercept"))
    )
    cal = (
        base.filter(F.col("b") == 2)
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r"))
    )
    kk = cal.agg(
        F.count(F.lit(1)).cast("long").alias("n_cal"),
        F.floor((9.0 * (F.count(F.lit(1)) + 1) + 9) / 10)
        .cast("long")
        .alias("k"),
    )
    rk = cal.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = st.bucketed_prefix_sums(rk, "r", ["c"], n_buckets=64)
    qh = (
        cum.crossJoin(F.broadcast(kk))
        .filter(F.col("cum_c") >= F.col("k"))
        .agg(F.min("r").alias("qhat"))
    )
    te = (
        base.filter(F.col("b") == 3)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(resid <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("covered"),
            F.max("slope").alias("slope"),
            F.max("intercept").alias("intercept"),
            F.max("qhat").alias("qhat"),
        )
    )
    return (
        te.crossJoin(F.broadcast(fit.select("n_train")))
        .crossJoin(F.broadcast(kk))
        .select(
            "n_train",
            "n_cal",
            "k",
            "n_test",
            "covered",
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
            F.round("qhat", 6).alias("qhat"),
            F.round(F.col("covered") * 1.0 / F.col("n_test"), 6).alias(
                "coverage"
            ),
            F.round(2.0 * F.col("qhat"), 6).alias("interval_width"),
            F.lit(0.9).alias("target_coverage"),
        )
    )


@query(
    "cmh_test_priority_status",
    f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS g,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                              AND o.o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                              AND o.o_orderstatus <> 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                              AND o.o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS cc,
               CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
                              AND o.o_orderstatus <> 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
    parts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(a) AS BIGINT) AS sum_a,
               sum((a + b) * 1e0 * (a + cc) / (a + b + cc + d)) AS sum_e,
               sum((a + b) * 1e0 * (cc + d) * (a + cc) * (b + d)
                   / ((a + b + cc + d) * 1e0 * (a + b + cc + d)
                      * (a + b + cc + d - 1))) AS sum_v,
               sum(a * 1e0 * d / (a + b + cc + d)) AS s_ad,
               sum(b * 1e0 * cc / (a + b + cc + d)) AS s_bc
        FROM cells),
    stat AS (
        SELECT n_strata, sum_a, sum_e, sum_v,
               (abs(sum_a - sum_e) - 5e-1) * (abs(sum_a - sum_e) - 5e-1)
                   / sum_v AS chi2,
               s_ad / s_bc AS mh_or
        FROM parts)
    SELECT n_strata, sum_a,
           round(sum_e, 6) AS sum_e, round(sum_v, 6) AS sum_v,
           round(chi2, 6) AS cmh_chi2,
           round(1e0 - {{erf}}, 6) AS p_value,
           round(mh_or, 6) AS mh_odds_ratio
    FROM stat
    """.replace("{erf}", _AS_ERF.format(x="sqrt(chi2 / 2e0)")),
)
def cmh_test_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of the urgent-priority x F-status
    association STRATIFIED by customer market segment — the pooled
    2x2 test simpsons_paradox_screen (which only eyeballs per-stratum
    sign flips) and fisher_exact_priority_status (which ignores
    strata) both point at: continuity-corrected CMH chi-square on 1
    df plus the Mantel-Haenszel common odds ratio. p-value via the
    shared Abramowitz-Stegun erf polynomial (chi2_1 sf(x) =
    1 - erf(sqrt(x/2))), same device as fdr_bh. Scale shape: ONE
    corpus pass builds the 5 integer 2x2 tables (map-side combinable
    conditional sums keyed by segment); every downstream expression
    is 5-row arithmetic on exact integer cells."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    fstat = F.col("o_orderstatus") == "F"
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("g"))
        .agg(
            F.sum(F.when(urgent & fstat, 1).otherwise(0)).cast("long").alias("a"),
            F.sum(F.when(urgent & ~fstat, 1).otherwise(0)).cast("long").alias("b"),
            F.sum(F.when(~urgent & fstat, 1).otherwise(0)).cast("long").alias("cc"),
            F.sum(F.when(~urgent & ~fstat, 1).otherwise(0)).cast("long").alias("d"),
        )
    )
    a, b, cc, d = F.col("a"), F.col("b"), F.col("cc"), F.col("d")
    nn = a + b + cc + d
    parts = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(a).cast("long").alias("sum_a"),
        F.sum((a + b) * 1.0 * (a + cc) / nn).alias("sum_e"),
        F.sum(
            (a + b) * 1.0 * (cc + d) * (a + cc) * (b + d)
            / (nn * 1.0 * nn * (nn - 1))
        ).alias("sum_v"),
        F.sum(a * 1.0 * d / nn).alias("s_ad"),
        F.sum(b * 1.0 * cc / nn).alias("s_bc"),
    )
    dev = F.abs(F.col("sum_a") - F.col("sum_e")) - 0.5
    stat = parts.select(
        "n_strata",
        "sum_a",
        "sum_e",
        "sum_v",
        (dev * dev / F.col("sum_v")).alias("chi2"),
        (F.col("s_ad") / F.col("s_bc")).alias("mh_or"),
    )
    return stat.select(
        "n_strata",
        "sum_a",
        F.round("sum_e", 6).alias("sum_e"),
        F.round("sum_v", 6).alias("sum_v"),
        F.round("chi2", 6).alias("cmh_chi2"),
        F.round(
            1.0 - F.expr(_AS_ERF.format(x="sqrt(chi2 / 2e0)")), 6
        ).alias("p_value"),
        F.round("mh_or", 6).alias("mh_odds_ratio"),
    )


# =====================================================================
# Round-6 third wave, part 12: distributed-placement and spatial/
# calibration decompositions — rendezvous (HRW) sharding audit (the
# placement law a 1000-executor cluster lives by), Moran's I spatial
# autocorrelation over the region adjacency, and the Murphy
# decomposition of the Brier score (the exact 4-term identity the
# reliability/isotonic calibration audits report into).
# =====================================================================

_HRW_NODES = 8


def _duck_hrw_sql() -> str:
    key = (
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
    )
    hs = [
        _DUCK_H60.format(args=f"{key}, 'node{i}'") for i in range(_HRW_NODES)
    ]
    g = "greatest(" + ", ".join(f"h{i}" for i in range(_HRW_NODES)) + ")"
    case = "CASE " + " ".join(
        f"WHEN h{i} = {g} THEN {i}" for i in range(_HRW_NODES)
    ) + " END"
    hm = _DUCK_H60.format(args=f"{key}, 'mod'")
    return f"""
    WITH h AS (
        SELECT {", ".join(f"{h} AS h{i}" for i, h in enumerate(hs))},
               {hm} % {_HRW_NODES} AS m8,
               {hm} % {_HRW_NODES - 1} AS m7
        FROM lineitem),
    asg AS (SELECT {case} AS node, m8, m7 FROM h),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN m8 <> m7 THEN 1 ELSE 0 END)
                        AS BIGINT) AS mod_moved
            FROM asg)
    SELECT node,
           CAST(count(*) AS BIGINT) AS n_keys,
           round(count(*) * 1e0 / (SELECT n FROM tot), 6) AS share,
           round(count(*) * {_HRW_NODES}e0 / (SELECT n FROM tot), 6)
               AS imbalance,
           round((SELECT mod_moved * 1e0 / n FROM tot), 6)
               AS mod_move_frac
    FROM asg GROUP BY node ORDER BY node
    """


@query("rendezvous_sharding_audit", _duck_hrw_sql())
def rendezvous_sharding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler-Ravishankar) sharding
    audit over {n} nodes: every lineitem key goes to argmax_i
    h60(key, node_i), the placement rule whose removal-movement is
    PROVABLY minimal — only the dead node's keys move (each row's
    share column IS its removal cost), versus modulo sharding where a
    {n}->{m} resize moves the m8 <> m7 fraction (~{frac}% by CRT:
    residues agree only on {m}/lcm = {m}/{lcm} of keys; reported
    alongside as mod_move_frac). The load table audits HRW's balance
    (imbalance = share * n_nodes, 1.0 = perfect). This is the
    placement law bucketing/partitioning schemes at 1000 executors
    rest on. Scale shape: one scan computing {n} JVM md5s per row
    (linear, no shuffle), then an {n}-key map-side-combinable rollup;
    the argmax is a greatest()+CASE expression chain — no explode, no
    struct comparison, identical text on both engines.""".format(
        n=_HRW_NODES,
        m=_HRW_NODES - 1,
        lcm=_HRW_NODES * (_HRW_NODES - 1),
        frac=round(100 * (1 - 1 / _HRW_NODES), 1),
    )
    li = _t(spark, sf_dir, "lineitem")
    key = F.format_string("%d-%d", "l_orderkey", "l_linenumber")
    hs = [
        mls.hash60(key, F.lit(f"node{i}")).alias(f"h{i}")
        for i in range(_HRW_NODES)
    ]
    hm = mls.hash60(key, F.lit("mod"))
    h = li.select(
        *hs,
        (hm % _HRW_NODES).alias("m8"),
        (hm % (_HRW_NODES - 1)).alias("m7"),
    )
    g = F.greatest(*[F.col(f"h{i}") for i in range(_HRW_NODES)])
    node = F.when(F.col("h0") == g, 0)
    for i in range(1, _HRW_NODES):
        node = node.when(F.col(f"h{i}") == g, i)
    asg = h.select(node.alias("node"), "m8", "m7")
    tot = asg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("m8") != F.col("m7"), 1).otherwise(0))
        .cast("long")
        .alias("mod_moved"),
    )
    return (
        asg.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .crossJoin(F.broadcast(tot))
        .select(
            "node",
            "n_keys",
            F.round(F.col("n_keys") * 1.0 / F.col("n"), 6).alias("share"),
            F.round(
                F.col("n_keys") * float(_HRW_NODES) / F.col("n"), 6
            ).alias("imbalance"),
            F.round(F.col("mod_moved") * 1.0 / F.col("n"), 6).alias(
                "mod_move_frac"
            ),
        )
        .orderBy("node")
    )


@query(
    "morans_i_nation_revenue",
    f"""
    WITH rev AS (
        SELECT c.c_nationkey AS nk,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
    nx AS (
        SELECT n.n_nationkey AS nk, n.n_regionkey AS rk,
               COALESCE(r.cents, 0) / 100e0 AS x
        FROM nation n LEFT JOIN rev r ON r.nk = n.n_nationkey),
    mz AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS mu FROM nx),
    z AS (SELECT nk, rk, x - (SELECT mu FROM mz) AS z FROM nx),
    byreg AS (
        SELECT rk, CAST(count(*) AS BIGINT) AS nr,
               sum(z) AS sz, sum(z * z) AS szz
        FROM z GROUP BY rk),
    parts AS (
        SELECT CAST(sum(nr * (nr - 1)) AS BIGINT) AS s0,
               sum(sz * sz - szz) AS num,
               sum(szz) AS den,
               CAST(sum(nr * (nr - 1) * (nr - 1)) AS BIGINT) AS srow
        FROM byreg),
    stat AS (
        SELECT (SELECT n FROM mz) AS n, s0, num, den,
               ((SELECT n FROM mz) * 1e0 / s0) * (num / den) AS i,
               -1e0 / ((SELECT n FROM mz) - 1) AS e_i,
               (((SELECT n FROM mz) * 1e0 * (SELECT n FROM mz)
                 * (2e0 * s0)
                 - (SELECT n FROM mz) * (4e0 * srow)
                 + 3e0 * s0 * s0)
                / (((SELECT n FROM mz) * 1e0 * (SELECT n FROM mz) - 1)
                   * s0 * s0))
               - (1e0 / (((SELECT n FROM mz) - 1e0)
                         * ((SELECT n FROM mz) - 1e0))) AS var_i
        FROM parts),
    zs AS (
        SELECT n, s0, i, e_i, var_i,
               (i - e_i) / sqrt(var_i) AS zval
        FROM stat)
    SELECT n AS n_nations, s0 AS n_weight_pairs,
           round(i, 6) AS morans_i,
           round(e_i, 6) AS expected_i,
           round(var_i, 6) AS var_i,
           round(zval, 6) AS z,
           round(1e0 - {_AS_ERF.format(x="(abs(zval) / sqrt(2e0))")}, 6)
               AS p_value
    FROM zs
    """,
)
def morans_i_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation of per-nation order revenue
    under the shared-region contiguity weight matrix (w_ij = 1 iff
    nations i != j share a region) — do nations in the same region
    move together? The catalog's drift/anomaly screens treat nations
    as exchangeable; this is the spatial-statistics test that they
    are NOT. The quadratic form collapses to per-region algebra: sum
    w z_i z_j = sum_r ((sum z)^2 - sum z^2), S1 = 2 S0, S2 = 4
    sum_r n_r (n_r - 1)^2 for symmetric binary weights, so no 25x25
    weight join exists at any scale; z-score against the normality
    null with the shared A&S erf text. Revenue accumulates in exact
    integer cents (order-free) before one 25-row z-transform."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    nx = nat.join(rev, nat["n_nationkey"] == rev["nk"], "left").select(
        F.col("n_regionkey").alias("rk"),
        (F.coalesce("cents", F.lit(0)) / F.lit(100.0)).alias("x"),
    )
    mz = nx.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.avg("x").alias("mu")
    )
    z = nx.crossJoin(F.broadcast(mz)).select(
        "rk", "n", (F.col("x") - F.col("mu")).alias("z")
    )
    byreg = z.groupBy("rk", "n").agg(
        F.count(F.lit(1)).cast("long").alias("nr"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    nr = F.col("nr").cast("double")
    parts = byreg.groupBy("n").agg(
        F.sum(F.col("nr") * (F.col("nr") - 1)).cast("long").alias("s0"),
        F.sum(F.col("sz") * F.col("sz") - F.col("szz")).alias("num"),
        F.sum("szz").alias("den"),
        F.sum(F.col("nr") * (F.col("nr") - 1) * (F.col("nr") - 1))
        .cast("long")
        .alias("srow"),
    )
    n = F.col("n").cast("double")
    s0 = F.col("s0").cast("double")
    i_ = (n / s0) * (F.col("num") / F.col("den"))
    e_i = F.lit(-1.0) / (F.col("n") - 1)
    var_i = (
        n * n * (2.0 * s0) - F.col("n") * (4.0 * F.col("srow").cast("double"))
        + 3.0 * s0 * s0
    ) / ((n * n - 1) * s0 * s0) - 1.0 / ((F.col("n") - 1.0) * (F.col("n") - 1.0))
    stat = parts.select(
        F.col("n").alias("n_nations"),
        F.col("s0").alias("n_weight_pairs"),
        i_.alias("i"),
        e_i.alias("e_i"),
        var_i.alias("var_i"),
        ((i_ - e_i) / F.sqrt(var_i)).alias("zval"),
    )
    return stat.select(
        "n_nations",
        "n_weight_pairs",
        F.round("i", 6).alias("morans_i"),
        F.round("e_i", 6).alias("expected_i"),
        F.round("var_i", 6).alias("var_i"),
        F.round("zval", 6).alias("z"),
        F.round(
            1.0 - F.expr(_AS_ERF.format(x="(abs(zval) / sqrt(2e0))")), 6
        ).alias("p_value"),
    )


@query(
    "brier_decomposition_scores",
    """
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(c.c_acctbal / 5000.0))) AS p,
               CASE WHEN o.o_custkey IS NOT NULL THEN 1e0 ELSE 0e0 END AS y
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
          ON o.o_custkey = c.c_custkey),
    b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, p, y
          FROM scored),
    bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               sum(p) AS sp, sum(p * p) AS spp,
               sum(y) AS sy, sum(p * y) AS spy,
               sum((p - y) * (p - y)) AS sq
        FROM b GROUP BY bin),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n, sum(sy) / sum(n) AS ybar,
               sum(sq) / sum(n) AS brier,
               sum(n * ((sp / n - sy / n) * (sp / n - sy / n))) / sum(n)
                   AS rel,
               sum(spp - sp * sp / n) / sum(n) AS wbv,
               2e0 * sum(spy - (sp / n) * sy) / sum(n) AS wbc,
               sum(n * (sy / n) * (sy / n)) AS syy
        FROM bins),
    fin AS (SELECT *, (syy - n * ybar * ybar) / n AS res FROM tot)
    SELECT n, round(brier, 6) AS brier,
           CASE WHEN abs(ybar * (1e0 - ybar)) < 1e-9 THEN 0e0
                ELSE round(ybar * (1e0 - ybar), 6) END AS uncertainty,
           CASE WHEN abs(res) < 1e-9 THEN 0e0
                ELSE round(res, 6) END AS resolution,
           round(rel, 6) AS reliability,
           CASE WHEN abs(wbv) < 1e-9 THEN 0e0
                ELSE round(wbv, 6) END AS within_bin_var,
           CASE WHEN abs(wbc) < 1e-9 THEN 0e0
                ELSE round(wbc, 6) END AS within_bin_cov2,
           CAST(abs(brier - (ybar * (1e0 - ybar) - res + rel + wbv - wbc))
                < 1e-9 AS BIGINT) AS identity_holds
    FROM fin
    """,
)
def brier_decomposition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the
    account-balance scoring rule against the has-orders label:
    Brier = UNC - RES + REL + WBV - WBC exactly, where UNC =
    ybar(1-ybar) is the outcome's irreducible variance, RES rewards
    bins whose outcome rates separate from the base rate, REL
    penalizes bins whose mean forecast misses their outcome rate, and
    WBV/WBC are the within-bin forecast-variance and 2x covariance
    corrections that make the identity EXACT for non-constant
    forecasts within bins (the textbook 3-term form silently assumes
    constant bins; identity_holds, reported as an integer abs<1e-9
    gate, is the proof it holds here — the raw gap is a near-zero
    difference of cancelling corpus float sums whose SIGN depends on
    partial-sum merge order, so rounding it would hash -0.0 vs 0.0
    across engines). calibration_reliability_bins reports ECE + raw
    Brier; this splits the same number into blame (REL) vs skill
    (RES) vs fate (UNC). One corpus scan -> 10-bin sufficient
    statistics (n, sum p, sum p^2, sum y, sum py per bin); all
    decomposition terms are 10-row arithmetic."""
    cst = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    scored = cst.join(o, cst["c_custkey"] == o["o_custkey"], "left").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("c_acctbal") / 5000.0))))
        .alias("p"),
        F.when(F.col("o_custkey").isNotNull(), 1.0).otherwise(0.0).alias("y"),
    )
    b = scored.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long").alias("bin"),
        "p",
        "y",
    )
    bins = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p").alias("sp"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum("y").alias("sy"),
        F.sum(F.col("p") * F.col("y")).alias("spy"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "sq"
        ),
    )
    nb, sp, sy = F.col("n"), F.col("sp"), F.col("sy")
    tot = bins.agg(
        F.sum("n").cast("long").alias("n"),
        (F.sum("sy") / F.sum("n")).alias("ybar"),
        (F.sum("sq") / F.sum("n")).alias("brier"),
        (
            F.sum(nb * ((sp / nb - sy / nb) * (sp / nb - sy / nb)))
            / F.sum("n")
        ).alias("rel"),
        (F.sum(F.col("spp") - sp * sp / nb) / F.sum("n")).alias("wbv"),
        (
            2.0 * F.sum(F.col("spy") - (sp / nb) * sy) / F.sum("n")
        ).alias("wbc"),
        F.sum(nb * (sy / nb) * (sy / nb)).alias("_syy"),
    )
    # RES needs ybar inside the bin sum; compute from the algebraic
    # identity sum n (ybar_k - ybar)^2 = sum n ybar_k^2 - N ybar^2.
    res = (F.col("_syy") - F.col("n") * F.col("ybar") * F.col("ybar")) / F.col(
        "n"
    )
    unc = F.col("ybar") * (1.0 - F.col("ybar"))

    def _snap(x, name):
        # Difference terms that are analytically ~0 here carry a
        # merge-order-dependent SIGN at ~1e-16 magnitude; round()
        # would stringify -0.0 vs 0.0 and flip the value hash.
        return (
            F.when(F.abs(x) < 1e-9, F.lit(0.0))
            .otherwise(F.round(x, 6))
            .alias(name)
        )

    return tot.select(
        "n",
        F.round("brier", 6).alias("brier"),
        _snap(unc, "uncertainty"),
        _snap(res, "resolution"),
        F.round("rel", 6).alias("reliability"),
        _snap(F.col("wbv"), "within_bin_var"),
        _snap(F.col("wbc"), "within_bin_cov2"),
        (
            F.abs(
                F.col("brier")
                - (unc - res + F.col("rel") + F.col("wbv") - F.col("wbc"))
            )
            < 1e-9
        )
        .cast("long")
        .alias("identity_holds"),
    )


# =====================================================================
# Round-6 third wave, part 13: forecasting for trend + intermittent
# regimes (Theta method — the M3 winner; Croston/SBA — the spare-
# parts standard) and capture-recapture population estimation (the
# two-sample Chapman estimator — "how big is the corpus you can't
# enumerate", the dedup-planning question).
# =====================================================================

_THETA_ALPHA = 0.3
_THETA_N = 28


def _theta_weights() -> list[float]:
    """SES weights over the 28-obs window: s_28 = sum_t w_t z_t with
    w_1 = (1-a)^27, w_t = a (1-a)^(28-t). Built by repeated
    multiplication (no pow(); bit-deterministic)."""
    w = [0.0] * _THETA_N
    f = 1.0
    for t in range(_THETA_N, 0, -1):
        w[t - 1] = _THETA_ALPHA * f if t > 1 else f
        f = f * (1.0 - _THETA_ALPHA)
    return w


_THETA_W = _theta_weights()
# ordered Python folds; baked as literals into BOTH engines
_THETA_W0 = 0.0
_THETA_W1 = 0.0
for _t_, _w_ in enumerate(_THETA_W, start=1):
    _THETA_W0 += _w_
    _THETA_W1 += _w_ * _t_
_THETA_ST = _THETA_N * (_THETA_N + 1) // 2
_THETA_STT = _THETA_N * (_THETA_N + 1) * (2 * _THETA_N + 1) // 6


def _duck_theta_sql() -> str:
    vals = ",\n        ".join(
        f"({i + 1}, {w!r})" for i, w in enumerate(_THETA_W)
    )
    return f"""
    WITH m AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    days AS (
        SELECT unnest(generate_series((SELECT maxd FROM m) - {_THETA_N - 1},
                                      (SELECT maxd FROM m),
                                      INTERVAL 1 DAY))::DATE AS day),
    cnt AS (SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS yc
            FROM orders GROUP BY 1),
    yy AS (SELECT date_diff('day',
                            (SELECT maxd FROM m) - {_THETA_N - 1}, d.day)
                      + 1 AS i,
                  CAST(coalesce(c.yc, 0) AS DOUBLE) AS y
           FROM days d LEFT JOIN cnt c ON c.day = d.day),
    w(i, w) AS (VALUES
        {vals}),
    sums AS (SELECT sum(yy.y ORDER BY yy.i) AS sy,
                    sum(yy.i * yy.y ORDER BY yy.i) AS sty,
                    sum(w.w * yy.y ORDER BY yy.i) AS swy
             FROM yy JOIN w ON w.i = yy.i),
    fit AS (SELECT ({_THETA_N}e0 * sty - {_THETA_ST}e0 * sy)
                       / ({_THETA_N}e0 * {_THETA_STT}e0
                          - {_THETA_ST}e0 * {_THETA_ST}e0) AS b,
                   sy, swy
            FROM sums),
    ab AS (SELECT (sy - b * {_THETA_ST}e0) / {_THETA_N}e0 AS a, b,
                  2e0 * swy - ((sy - b * {_THETA_ST}e0) / {_THETA_N}e0)
                      * {_THETA_W0!r} - b * {_THETA_W1!r} AS s28
           FROM fit)
    SELECT h,
           round((5e-1 * (a + b * ({_THETA_N}e0 + h)) + 5e-1 * s28)
                 / 100e0, 4) AS forecast
    FROM (SELECT unnest(generate_series(1, 7)) AS h), ab
    ORDER BY h
    """


@query("theta_forecast_daily", _duck_theta_sql())
def theta_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000; the
    M3-competition winner) of daily order revenue, 7 days ahead from
    the last 28: the average of the theta=0 line (OLS trend
    extrapolation) and an SES(alpha=0.3) forecast of the theta=2
    line z_t = 2 y_t - trend_t. Everything is LINEAR in the
    observations, so the "recursive" SES collapses to a dot product
    with precomputed weights (the holt_forecast_daily device): one
    broadcast coefficient join + three i-ordered 28-term folds; the
    derived constants (sum w, sum w*t, sum t, sum t^2) are Python-
    fold literals baked into both engines. Revenue accumulates in
    exact integer cents before the double transform; forecasts
    report in dollars."""
    o = _t(spark, sf_dir, "orders")
    m = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    days = m.select(
        F.explode(
            F.sequence(F.date_sub(F.col("maxd"), _THETA_N - 1), F.col("maxd"))
        ).alias("day"),
        "maxd",
    )
    cnt = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("yc")
    )
    yy = days.join(cnt, "day", "left").select(
        (
            F.datediff("day", F.date_sub(F.col("maxd"), _THETA_N - 1)) + 1
        ).alias("i"),
        F.coalesce("yc", F.lit(0)).cast("double").alias("y"),
    )
    wdf = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_THETA_W)], "i int, w double"
    )
    terms = yy.join(F.broadcast(wdf), "i").select(
        "i",
        "y",
        (F.col("i") * F.col("y")).alias("ty"),
        (F.col("w") * F.col("y")).alias("wy"),
    )
    sums = terms.agg(
        F.array_sort(F.collect_list(F.struct("i", "y", "ty", "wy"))).alias(
            "arr"
        )
    ).select(
        F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["y"]).alias(
            "sy"
        ),
        F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["ty"]).alias(
            "sty"
        ),
        F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["wy"]).alias(
            "swy"
        ),
    )
    nf, stf, sttf = float(_THETA_N), float(_THETA_ST), float(_THETA_STT)
    b = (nf * F.col("sty") - stf * F.col("sy")) / (
        nf * sttf - stf * stf
    )
    ab = sums.select(
        ((F.col("sy") - b * stf) / nf).alias("a"),
        b.alias("b"),
        (
            2.0 * F.col("swy")
            - ((F.col("sy") - b * stf) / nf) * F.lit(_THETA_W0)
            - b * F.lit(_THETA_W1)
        ).alias("s28"),
    )
    hs = spark.range(1, 8).select(F.col("id").cast("int").alias("h"))
    return (
        hs.crossJoin(F.broadcast(ab))
        .select(
            "h",
            F.round(
                (
                    0.5 * (F.col("a") + F.col("b") * (nf + F.col("h")))
                    + 0.5 * F.col("s28")
                )
                / 100.0,
                4,
            ).alias("forecast"),
        )
        .orderBy("h")
    )


_CROSTON_ALPHA = 0.2


@query(
    "croston_intermittent_demand",
    f"""
    WITH RECURSIVE d AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS z
        FROM lineitem WHERE l_suppkey = 1 GROUP BY 1),
    mn AS (SELECT min(day) AS d0, max(day) AS d1,
                  CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
                      AS n_days
           FROM d),
    pts AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
               CAST(date_diff('day', (SELECT d0 FROM mn), day) + 1
                    AS BIGINT) AS t,
               z
        FROM d),
    iv AS (SELECT rn, t, z,
                  CAST(t - lag(t) OVER (ORDER BY rn) AS DOUBLE) AS p
           FROM pts),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS j, z AS zh, CAST(t AS DOUBLE) AS ph
        FROM pts WHERE rn = 1
        UNION ALL
        SELECT r.j + 1,
               r.zh + {_CROSTON_ALPHA}e0 * (i.z - r.zh),
               r.ph + {_CROSTON_ALPHA}e0 * (i.p - r.ph)
        FROM rec r JOIN iv i ON i.rn = r.j + 1),
    fin AS (SELECT zh, ph FROM rec ORDER BY j DESC LIMIT 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(CAST(z AS BIGINT)) AS BIGINT) AS total_z
            FROM pts)
    SELECT (SELECT n_days FROM mn) AS n_days,
           n_points, total_z,
           round(total_z * 1e0 / (SELECT n_days FROM mn), 6)
               AS mean_daily_demand,
           round((SELECT zh FROM fin), 6) AS z_hat,
           round((SELECT ph FROM fin), 6) AS p_hat,
           round((SELECT zh / ph FROM fin), 6) AS croston_rate,
           round({1.0 - _CROSTON_ALPHA / 2.0!r}
                 * (SELECT zh / ph FROM fin), 6) AS sba_rate
    FROM tot
    """,
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) + the Syntetos-Boylan (SBA)
    bias correction for INTERMITTENT demand — supplier 1's daily
    shipped quantity is zero on ~78% of days, exactly the regime
    where SES/Holt/Theta smear zeros into a meaningless mean:
    separate SES (alpha=0.2) streams for nonzero demand SIZES and
    inter-demand INTERVALS, demand rate = z_hat / p_hat, SBA = (1 -
    alpha/2) x that. Initialization: z_hat = first size, p_hat =
    time-to-first-demand. The corpus collapses to a day-keyed rollup
    (bounded by the calendar, ~550 demand points at every sf); the
    recursion is inherently sequential so it runs driver-side on the
    collected bounded series in Python doubles — the IDENTICAL IEEE
    sequence the oracle's recursive CTE performs on the same exact
    integer (size, interval) inputs (the pacf_daily_events device).
    safety_stock_by_brand covers the smooth-demand inventory case;
    this is the spare-parts/long-tail one."""
    li = _t(spark, sf_dir, "lineitem")
    d = (
        li.filter(F.col("l_suppkey") == 1)
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(
            F.sum(F.round("l_quantity").cast("long")).cast("long").alias("z")
        )
    )
    rows = d.orderBy("day").collect()  # calendar-bounded (~550 rows)
    d0 = rows[0]["day"]
    n_days = (rows[-1]["day"] - d0).days + 1
    ts = [(r["day"] - d0).days + 1 for r in rows]
    zs = [float(r["z"]) for r in rows]
    zh, ph = zs[0], float(ts[0])
    for j in range(1, len(rows)):
        p = float(ts[j] - ts[j - 1])
        zh = zh + _CROSTON_ALPHA * (zs[j] - zh)
        ph = ph + _CROSTON_ALPHA * (p - ph)
    total_z = sum(r["z"] for r in rows)
    rate = zh / ph
    out = [
        (
            n_days,
            len(rows),
            total_z,
            round(total_z * 1.0 / n_days, 6),
            round(zh, 6),
            round(ph, 6),
            round(rate, 6),
            round((1.0 - _CROSTON_ALPHA / 2.0) * rate, 6),
        )
    ]
    return spark.createDataFrame(
        out,
        "n_days bigint, n_points bigint, total_z bigint, "
        "mean_daily_demand double, z_hat double, p_hat double, "
        "croston_rate double, sba_rate double",
    )


def _duck_caprecap_sql() -> str:
    key = (
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
    )
    h1 = _DUCK_H60.format(args=f"{key}, 'cr1'")
    h2 = _DUCK_H60.format(args=f"{key}, 'cr2'")
    return f"""
    WITH f AS (
        SELECT CASE WHEN {h1} % 10 = 0 THEN 1 ELSE 0 END AS s1,
               CASE WHEN {h2} % 10 = 0 THEN 1 ELSE 0 END AS s2
        FROM lineitem),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(s1) AS BIGINT) AS n1,
               CAST(sum(s2) AS BIGINT) AS n2,
               CAST(sum(s1 * s2) AS BIGINT) AS m
        FROM f),
    est AS (
        SELECT n_true, n1, n2, m,
               (n1 + 1e0) * (n2 + 1e0) / (m + 1e0) - 1e0 AS nhat,
               (n1 + 1e0) * (n2 + 1e0) * (n1 - m) * (n2 - m)
                   / ((m + 1e0) * (m + 1e0) * (m + 2e0)) AS v
        FROM agg)
    SELECT n_true, n1, n2, m,
           round(nhat, 4) AS chapman_estimate,
           round(nhat - 1.96e0 * sqrt(v), 4) AS ci_lo,
           round(nhat + 1.96e0 * sqrt(v), 4) AS ci_hi,
           CAST(CASE WHEN n_true >= nhat - 1.96e0 * sqrt(v)
                      AND n_true <= nhat + 1.96e0 * sqrt(v)
                     THEN 1 ELSE 0 END AS BIGINT) AS within_ci,
           round((nhat - n_true) * 100e0 / n_true, 4) AS err_pct
    FROM est
    """


@query("capture_recapture_estimate", _duck_caprecap_sql())
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample capture-recapture (Chapman's bias-corrected
    Lincoln-Petersen estimator) of the lineitem population from two
    INDEPENDENT 10% hash samples: N_hat = (n1+1)(n2+1)/(m+1) - 1
    with the Seber variance and a 95% CI — the estimate-what-you-
    can't-enumerate tool (how many distinct items/users/documents
    exist when you can only afford two cheap samples; the overlap m
    carries all the information). The true count rides along as the
    audit (within_ci, err_pct) — the same
    estimate-plus-ground-truth contract as sampled_groupby_ci and
    minhash_accuracy_audit. Scale shape: both sample predicates are
    scan-side hash filters folded into ONE pass producing four
    integer counters (map-side combinable); no shuffle, no join —
    at 100 TB you'd push the two filters to two 10% scans and never
    materialize either sample."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.format_string("%d-%d", "l_orderkey", "l_linenumber")
    s1 = F.when(mls.hash60(key, F.lit("cr1")) % 10 == 0, 1).otherwise(0)
    s2 = F.when(mls.hash60(key, F.lit("cr2")) % 10 == 0, 1).otherwise(0)
    agg = li.select(s1.alias("s1"), s2.alias("s2")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum("s1").cast("long").alias("n1"),
        F.sum("s2").cast("long").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("m"),
    )
    n1, n2, mm = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("m").cast("double"),
    )
    nhat = (n1 + 1.0) * (n2 + 1.0) / (mm + 1.0) - 1.0
    v = (
        (n1 + 1.0)
        * (n2 + 1.0)
        * (n1 - mm)
        * (n2 - mm)
        / ((mm + 1.0) * (mm + 1.0) * (mm + 2.0))
    )
    half = 1.96 * F.sqrt(v)
    return agg.select(
        "n_true",
        "n1",
        "n2",
        "m",
        F.round(nhat, 4).alias("chapman_estimate"),
        F.round(nhat - half, 4).alias("ci_lo"),
        F.round(nhat + half, 4).alias("ci_hi"),
        F.when(
            (F.col("n_true") >= nhat - half) & (F.col("n_true") <= nhat + half),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("within_ci"),
        F.round((nhat - F.col("n_true")) * 100.0 / F.col("n_true"), 4).alias(
            "err_pct"
        ),
    )


# =====================================================================
# Round-6 third wave, part 14: association-rule DIRECTION metrics
# (confidence/lift/leverage/conviction — frequent_itemsets_pairs
# stops at undirected support/lift), HAC (Newey-West) standard
# errors for the revenue trend (the autocorrelation-robust twin of
# ols_revenue_trend's iid t-stat), and the standardized effect-size
# family (Cohen's d / Hedges' g / Glass's delta / Cliff's delta) the
# significance tests report into.
# =====================================================================


@query(
    "association_rules_metrics",
    f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey % 500 AS item
        FROM lineitem),
    tot AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM baskets),
    sing AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt
             FROM baskets GROUP BY item),
    freq AS (SELECT item, cnt FROM sing, tot
             WHERE cnt >= {_FIS_MINSUP} * n),
    pairs AS (
        SELECT a.item AS ia, b.item AS ib,
               CAST(count(*) AS BIGINT) AS cab
        FROM baskets a
        JOIN baskets b ON b.basket = a.basket AND a.item < b.item
        WHERE a.item IN (SELECT item FROM freq)
          AND b.item IN (SELECT item FROM freq)
        GROUP BY a.item, b.item),
    top AS (SELECT * FROM pairs ORDER BY cab DESC, ia, ib LIMIT 10),
    rules AS (
        SELECT ia AS antecedent, ib AS consequent, cab,
               fa.cnt AS ca, fb.cnt AS cb FROM top
        JOIN freq fa ON fa.item = top.ia
        JOIN freq fb ON fb.item = top.ib
        UNION ALL
        SELECT ib, ia, cab, fb.cnt, fa.cnt FROM top
        JOIN freq fa ON fa.item = top.ia
        JOIN freq fb ON fb.item = top.ib)
    SELECT antecedent, consequent, cab AS n_both,
           round(cab * 1e0 / n, 6) AS support,
           round(cab * 1e0 / ca, 6) AS confidence,
           round(cab * 1e0 * n / (ca * 1e0 * cb), 6) AS lift,
           round(cab * 1e0 / n - (ca * 1e0 / n) * (cb * 1e0 / n), 6)
               AS leverage,
           round(CASE WHEN cab < ca THEN
                      (1e0 - cb * 1e0 / n) / (1e0 - cab * 1e0 / ca)
                 END, 6) AS conviction,
           round(cab * 1e0 / (ca + cb - cab), 6) AS jaccard
    FROM rules CROSS JOIN tot
    ORDER BY antecedent, consequent
    """,
)
def association_rules_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association-rule metrics for the 10 most frequent
    item pairs (items = part families, the frequent_itemsets_pairs
    basket device), both rule directions each: confidence (the CTR
    analog), lift, leverage, conviction (directional
    implication-strength, NULL for exact implications), Jaccard —
    the Agrawal-Srikant measures a recommender rule engine actually
    thresholds on, where frequent_itemsets_pairs stops at undirected
    support/lift. All ratios are exact-integer-count quotients, so
    both engines derive identical doubles. Scale shape: identical to
    the A-Priori query (downward-closure pruned basket self-join,
    one shared shuffle key), plus 10-row arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 500).alias("item"),
    ).dropDuplicates()
    tot = baskets.agg(F.count_distinct("basket").cast("long").alias("n"))
    sing = baskets.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    freq = (
        sing.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") >= _FIS_MINSUP * F.col("n"))
        .select("item", "cnt")
    )
    pruned = baskets.join(
        F.broadcast(freq.select("item")), "item", "left_semi"
    )
    a = pruned.select("basket", F.col("item").alias("ia"))
    b = pruned.select("basket", F.col("item").alias("ib"))
    top = (
        a.join(b, "basket")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .orderBy(F.col("cab").desc(), "ia", "ib")
        .limit(10)
    )
    fa = freq.select(F.col("item").alias("ia"), F.col("cnt").alias("ca"))
    fb = freq.select(F.col("item").alias("ib"), F.col("cnt").alias("cb"))
    j = top.join(F.broadcast(fa), "ia").join(F.broadcast(fb), "ib")
    fwd = j.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "cab",
        "ca",
        "cb",
    )
    rev = j.select(
        F.col("ib").alias("antecedent"),
        F.col("ia").alias("consequent"),
        "cab",
        F.col("cb").alias("ca"),
        F.col("ca").alias("cb"),
    )
    rules = fwd.unionByName(rev).crossJoin(F.broadcast(tot))
    n, ca, cb, cab = (
        F.col("n").cast("double"),
        F.col("ca").cast("double"),
        F.col("cb").cast("double"),
        F.col("cab").cast("double"),
    )
    conf = cab / ca
    return rules.select(
        "antecedent",
        "consequent",
        F.col("cab").alias("n_both"),
        F.round(cab / n, 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(cab * n / (ca * cb), 6).alias("lift"),
        F.round(cab / n - (ca / n) * (cb / n), 6).alias("leverage"),
        F.round(
            F.when(
                F.col("cab") < F.col("ca"), (1.0 - cb / n) / (1.0 - conf)
            ),
            6,
        ).alias("conviction"),
        F.round(cab / (ca + cb - cab), 6).alias("jaccard"),
    ).orderBy("antecedent", "consequent")


_NW_LAGS = 7


def _duck_nw_sql() -> str:
    gl = " + ".join(
        f"2e0 * (1e0 - {lag}e0 / {_NW_LAGS + 1}e0) * g{lag}"
        for lag in range(1, _NW_LAGS + 1)
    )
    gsel = ",\n               ".join(
        f"sum(a.xc * b.xc * a.e * b.e) FILTER (b.t = a.t - {lag}) AS g{lag}"
        for lag in range(1, _NW_LAGS + 1)
    )
    return f"""
    WITH cnt AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS yc
        FROM orders GROUP BY 1),
    mn AS (SELECT min(day) AS d0, max(day) AS d1 FROM cnt),
    days AS (
        SELECT unnest(generate_series((SELECT d0 FROM mn),
                                      (SELECT d1 FROM mn),
                                      INTERVAL 1 DAY))::DATE AS day),
    yy AS (
        SELECT CAST(date_diff('day', (SELECT d0 FROM mn), d.day) + 1
                    AS BIGINT) AS t,
               CAST(coalesce(c.yc, 0) AS BIGINT) AS yc
        FROM days d LEFT JOIN cnt c ON c.day = d.day),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(yc) AS BIGINT) AS sy,
               CAST(sum(t * yc) AS BIGINT) AS sty
        FROM yy),
    fit AS (
        SELECT n,
               (n * (sty / 100e0) - st * (sy / 100e0))
                   / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                   AS b,
               st, stt, sy
        FROM mom),
    ab AS (SELECT n, b, ((sy / 100e0) - b * st) / n AS a,
                  st * 1e0 / n AS tbar,
                  stt - CAST(st AS DOUBLE) * st / n AS sxx
           FROM fit),
    e AS (
        SELECT yy.t, yy.t - (SELECT tbar FROM ab) AS xc,
               yc / 100e0 - ((SELECT a FROM ab)
                             + (SELECT b FROM ab) * yy.t) AS e
        FROM yy),
    gam AS (
        SELECT sum(a.xc * a.xc * a.e * a.e) FILTER (b.t = a.t) AS g0,
               {gsel}
        FROM e a JOIN e b ON b.t BETWEEN a.t - {_NW_LAGS} AND a.t),
    s2 AS (SELECT sum(e * e) AS sse FROM e)
    SELECT (SELECT n FROM ab) AS n_days,
           round((SELECT b FROM ab), 6) AS slope,
           round(sqrt((SELECT sse FROM s2)
                      / ((SELECT n FROM ab) - 2)
                      / (SELECT sxx FROM ab)), 6) AS se_ols,
           round(sqrt((g0 + {gl}) / ((SELECT sxx FROM ab)
                                     * (SELECT sxx FROM ab))), 6) AS se_nw,
           round(sqrt((g0 + {gl}) / ((SELECT sxx FROM ab)
                                     * (SELECT sxx FROM ab)))
                 / sqrt((SELECT sse FROM s2) / ((SELECT n FROM ab) - 2)
                        / (SELECT sxx FROM ab)), 6) AS se_ratio,
           round((SELECT b FROM ab)
                 / sqrt((g0 + {gl}) / ((SELECT sxx FROM ab)
                                       * (SELECT sxx FROM ab))), 6)
               AS t_nw
    FROM gam
    """


@query("newey_west_trend_se", _duck_nw_sql())
def newey_west_trend_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (1987) HAC standard error for the daily-revenue
    trend slope, Bartlett kernel at L=7 lags — the autocorrelation-
    robust twin of ols_revenue_trend, whose iid t-stat OVERSTATES
    significance whenever residuals are serially correlated (daily
    revenue always is: weekly cycles survive detrending). se_ratio
    (HAC/iid) IS the autocorrelation penalty. Exactness: moments in
    integer cents/day-indices so slope/intercept doubles are
    engine-identical, hence residuals too; the lag autocovariances
    come from a t-range self-join of the calendar-bounded residual
    frame (days-sized at any corpus scale — at 100 TB the daily
    rollup is the only corpus-sized pass)."""
    o = _t(spark, sf_dir, "orders")
    cnt = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("yc")
    )
    mn = cnt.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = mn.select(
        F.explode(F.sequence("d0", "d1")).alias("day"), "d0"
    )
    yy = days.join(cnt, "day", "left").select(
        (F.datediff("day", "d0") + 1).cast("long").alias("t"),
        F.coalesce("yc", F.lit(0)).cast("long").alias("yc"),
    )
    mom = yy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("yc")).cast("long").alias("sty"),
    )
    n, stc, sttc = F.col("n"), F.col("st"), F.col("stt")
    b = (n * (F.col("sty") / 100.0) - stc * (F.col("sy") / 100.0)) / (
        n.cast("double") * sttc - stc.cast("double") * stc
    )
    ab = mom.select(
        "n",
        b.alias("b"),
        (((F.col("sy") / 100.0) - b * stc) / n).alias("a"),
        (stc * 1.0 / n).alias("tbar"),
        (sttc - stc.cast("double") * stc / n).alias("sxx"),
    ).localCheckpoint()
    e = yy.crossJoin(F.broadcast(ab)).select(
        "t",
        (F.col("t") - F.col("tbar")).alias("xc"),
        (
            F.col("yc") / F.lit(100.0)
            - (F.col("a") + F.col("b") * F.col("t"))
        ).alias("e"),
        "n",
        "b",
        "sxx",
    )
    ea = e.select("t", "xc", "e", "n", "b", "sxx")
    eb = e.select(
        F.col("t").alias("bt"), F.col("xc").alias("bxc"),
        F.col("e").alias("be"),
    )
    lagged = ea.join(
        eb,
        (F.col("bt") >= F.col("t") - _NW_LAGS) & (F.col("bt") <= F.col("t")),
    )
    prod = F.col("xc") * F.col("bxc") * F.col("e") * F.col("be")
    gam = lagged.groupBy("n", "b", "sxx").agg(
        F.sum(F.when(F.col("bt") == F.col("t"), prod)).alias("g0"),
        *[
            F.sum(
                F.when(F.col("bt") == F.col("t") - lag, prod)
            ).alias(f"g{lag}")
            for lag in range(1, _NW_LAGS + 1)
        ],
    )
    sse = e.agg(F.sum(F.col("e") * F.col("e")).alias("sse"))
    nw_var = F.col("g0")
    for lag in range(1, _NW_LAGS + 1):
        nw_var = nw_var + 2.0 * (1.0 - float(lag) / (_NW_LAGS + 1)) * F.col(
            f"g{lag}"
        )
    se_nw = F.sqrt(nw_var / (F.col("sxx") * F.col("sxx")))
    se_ols = F.sqrt(
        F.col("sse") / (F.col("n") - 2) / F.col("sxx")
    )
    return (
        gam.crossJoin(F.broadcast(sse))
        .select(
            F.col("n").alias("n_days"),
            F.round("b", 6).alias("slope"),
            F.round(se_ols, 6).alias("se_ols"),
            F.round(se_nw, 6).alias("se_nw"),
            F.round(se_nw / se_ols, 6).alias("se_ratio"),
            F.round(F.col("b") / se_nw, 6).alias("t_nw"),
        )
    )


@query(
    "effect_sizes_price_segments",
    """
    WITH v AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS g,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS xc,
               o.o_totalprice AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    mom AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xc) AS BIGINT) AS s,
               CAST(sum(xc * xc) AS HUGEINT) AS ss
        FROM v GROUP BY g),
    wide AS (
        SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
               max(CASE WHEN g = 2 THEN n END) AS n2,
               max(CASE WHEN g = 1 THEN s END) / 100e0 AS s1,
               max(CASE WHEN g = 2 THEN s END) / 100e0 AS s2,
               CAST(max(CASE WHEN g = 1 THEN ss END) AS DOUBLE)
                   / 10000e0 AS ss1,
               CAST(max(CASE WHEN g = 2 THEN ss END) AS DOUBLE)
                   / 10000e0 AS ss2
        FROM mom),
    sd AS (
        SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
               (ss1 - s1 * s1 / n1) / (n1 - 1) AS v1,
               (ss2 - s2 * s2 / n2) / (n2 - 1) AS v2
        FROM wide),
    dd AS (
        SELECT n1, n2, m1, m2, v1, v2,
               (m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                / (n1 + n2 - 2)) AS d
        FROM sd),
    vals AS (SELECT x AS xv,
                    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS c1,
                    CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                        AS c2
             FROM v GROUP BY x),
    pref AS (
        SELECT c1,
               coalesce(sum(c1 + c2) OVER (ORDER BY xv
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c1 + c2 + 1) / 2e0 AS avg_rank
        FROM vals),
    u AS (SELECT sum(c1 * avg_rank) AS r1 FROM pref)
    SELECT n1, n2,
           round(m1, 2) AS mean_building,
           round(m2, 2) AS mean_machinery,
           round(d, 6) AS cohen_d,
           round(d * (1e0 - 3e0 / (4e0 * (n1 + n2) - 9e0)), 6) AS hedges_g,
           round((m1 - m2) / sqrt(v2), 6) AS glass_delta,
           round(2e0 * ((SELECT r1 FROM u)
                        - n1 * (n1 + 1e0) / 2e0) / (n1 * 1e0 * n2) - 1e0,
                 6) AS cliffs_delta
    FROM dd
    """,
)
def effect_sizes_price_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the BUILDING-vs-MACHINERY order-
    value comparison: Cohen's d (pooled-SD mean gap), Hedges' g
    (small-sample bias correction), Glass's delta (control-SD
    denominator), and Cliff's delta (the ordinal dominance statistic
    2U/(n1 n2) - 1, distribution-free) — the MAGNITUDE layer the
    two-sample tests (mann_whitney / ks / z) omit: at corpus scale
    everything is 'significant'; effect size is what decides if
    anyone should care. Exactness: moments in integer cents (sum of
    squares in decimal — exact under any partial order); Cliff's
    delta reuses the tie-averaged rank device (value-keyed groupBy,
    prefix sums over distinct values) where every average rank is an
    exact multiple of 0.5 and the rank-sum stays below 2^53 — bit-
    identical regardless of summation order."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(2)
            .alias("g"),
            F.round(F.col("o_totalprice") * 100)
            .cast("decimal(18,0)")
            .alias("xc"),
            F.col("o_totalprice").alias("x"),
        )
    )
    mom = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").alias("s"),
        F.sum(F.col("xc") * F.col("xc")).alias("ss"),
    )
    wide = mom.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 2, F.col("n"))).alias("n2"),
        (
            F.max(F.when(F.col("g") == 1, F.col("s"))).cast("double") / 100.0
        ).alias("s1"),
        (
            F.max(F.when(F.col("g") == 2, F.col("s"))).cast("double") / 100.0
        ).alias("s2"),
        (
            F.max(F.when(F.col("g") == 1, F.col("ss"))).cast("double")
            / 10000.0
        ).alias("ss1"),
        (
            F.max(F.when(F.col("g") == 2, F.col("ss"))).cast("double")
            / 10000.0
        ).alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2 = F.col("s1") / n1, F.col("s2") / n2
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)
    d = (m1 - m2) / F.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    vals = v.groupBy("x").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    ).withColumn("ct", F.col("c1") + F.col("c2"))
    pref = st.bucketed_prefix_sums(vals, "x", ["ct"], n_buckets=64).select(
        "c1",
        (
            (F.col("cum_ct") - F.col("ct")) + (F.col("ct") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    u = pref.agg(F.sum(F.col("c1") * F.col("avg_rank")).alias("r1"))
    return (
        wide.crossJoin(F.broadcast(u))
        .select(
            "n1",
            "n2",
            F.round(m1, 2).alias("mean_building"),
            F.round(m2, 2).alias("mean_machinery"),
            F.round(d, 6).alias("cohen_d"),
            F.round(
                d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6
            ).alias("hedges_g"),
            F.round((m1 - m2) / F.sqrt(v2), 6).alias("glass_delta"),
            F.round(
                2.0
                * (F.col("r1") - n1 * (n1 + 1.0) / 2.0)
                / (n1 * 1.0 * n2)
                - 1.0,
                6,
            ).alias("cliffs_delta"),
        )
    )


# =====================================================================
# Round 6 fourth wave: recommender / state-space / AR analytics.
# =====================================================================
@query(
    "slope_one_recommend_c1",
    """
    WITH r0 AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    r AS (
        SELECT u, i, q FROM (
            SELECT u, i, q,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY q DESC, i) AS rn
            FROM r0) WHERE rn <= 20),
    b AS (SELECT i, q FROM r WHERE u = 1),
    pairs AS (
        SELECT rj.i AS pj, ri.i AS pi,
               CAST(count(*) AS BIGINT) AS c,
               CAST(sum(rj.q - ri.q) AS BIGINT) AS dsum
        FROM r ri JOIN r rj ON ri.u = rj.u AND ri.i <> rj.i
        WHERE ri.i IN (SELECT i FROM b)
          AND rj.i NOT IN (SELECT i FROM b)
        GROUP BY 1, 2),
    pred AS (
        SELECT p.pj,
               CAST(sum(p.c) AS BIGINT) AS support,
               CAST(sum(p.dsum + b.q * p.c) AS BIGINT) AS num
        FROM pairs p JOIN b ON b.i = p.pi
        GROUP BY 1)
    SELECT pj AS p_partkey, support,
           round(CAST(num AS DOUBLE) / support, 6) AS slope_one_score
    FROM pred
    ORDER BY slope_one_score DESC, support DESC, p_partkey
    LIMIT 10
    """,
)
def slope_one_recommend_c1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One (Lemire & Maclachlan 2005) part
    recommendations for customer 1 from purchase-quantity implicit
    ratings. The classical form averages per-pair rating deviations
    then re-averages weighted by co-rating support; expanding the
    algebra collapses the whole prediction to EXACT integer sums —
    pred(u,j) = (sum_i dsum(j,i) + r_ui * c(j,i)) / sum_i c(j,i) —
    so no double accumulates across rows and the hash is
    order-immune. Scale shape: per-user baskets are capped at the
    20 highest-quantity items (deterministic q-desc/key tie-break)
    so the per-user pair stream is bounded at 400 rows/user, and the
    target basket is a <=20-row broadcast that SEMI-filters the pair
    stream before the (j,i) shuffle — the deviation matrix is never
    materialized beyond the target's columns. Complements the
    cosine item-item CF (item_item_cosine_topk) with the
    deviation-based recommender family."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).cast("long").alias("q"))
    )
    w = Window.partitionBy("u").orderBy(F.desc("q"), "i")
    r = (
        r0.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    b = r.filter(F.col("u") == 1).select(
        F.col("i").alias("bi"), F.col("q").alias("bq")
    )
    left = r.select(
        "u", F.col("i").alias("pi"), F.col("q").alias("qi")
    ).join(F.broadcast(b.select(F.col("bi").alias("pi"))), "pi")
    right = r.select(
        "u", F.col("i").alias("pj"), F.col("q").alias("qj")
    ).join(
        F.broadcast(b.select(F.col("bi").alias("pj"))), "pj", "left_anti"
    )
    pairs = (
        right.join(left, "u")
        .filter(F.col("pj") != F.col("pi"))
        .groupBy("pj", "pi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.col("qj") - F.col("qi")).cast("long").alias("dsum"),
        )
    )
    pred = (
        pairs.join(F.broadcast(b), pairs["pi"] == b["bi"])
        .groupBy("pj")
        .agg(
            F.sum("c").cast("long").alias("support"),
            F.sum(F.col("dsum") + F.col("bq") * F.col("c"))
            .cast("long")
            .alias("num"),
        )
    )
    return (
        pred.select(
            F.col("pj").alias("p_partkey"),
            "support",
            F.round(
                F.col("num").cast("double") / F.col("support"), 6
            ).alias("slope_one_score"),
        )
        .orderBy(F.desc("slope_one_score"), F.desc("support"), "p_partkey")
        .limit(10)
    )


_KALMAN_CUT = "TIMESTAMP '2001-04-01'"


@query(
    "kalman_local_level_daily",
    f"""
    WITH RECURSIVE d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate >= {_KALMAN_CUT}
        GROUP BY 1),
    pts AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
               cents / 100e0 AS y
        FROM d),
    mo AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss
        FROM d),
    rv AS (
        SELECT n,
               (CAST(ss AS DOUBLE) / 10000e0
                - (s / 100e0) * (s / 100e0) / n) / (n - 1) AS r_var
        FROM mo),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS j, p.y AS x,
               v.r_var AS p, 0e0 AS sai, CAST(0 AS BIGINT) AS na,
               0e0 AS kk, v.r_var AS rv
        FROM pts p, rv v WHERE p.rn = 1
        UNION ALL
        SELECT r.j + 1,
               r.x + ((r.p + r.rv / 10e0)
                      / ((r.p + r.rv / 10e0) + r.rv)) * (t.y - r.x),
               (1e0 - (r.p + r.rv / 10e0)
                      / ((r.p + r.rv / 10e0) + r.rv))
                   * (r.p + r.rv / 10e0),
               r.sai + abs(t.y - r.x),
               r.na + CASE WHEN abs(t.y - r.x)
                                > 3e0 * sqrt((r.p + r.rv / 10e0) + r.rv)
                           THEN 1 ELSE 0 END,
               (r.p + r.rv / 10e0) / ((r.p + r.rv / 10e0) + r.rv),
               r.rv
        FROM rec r JOIN pts t ON t.rn = r.j + 1),
    fin AS (SELECT * FROM rec ORDER BY j DESC LIMIT 1)
    SELECT (SELECT n FROM rv) AS n_points,
           round(sqrt((SELECT r_var FROM rv)), 4) AS r_sd,
           round(kk, 6) AS steady_gain,
           round(x, 4) AS final_level,
           round(sai, 4) AS sum_abs_innov,
           na AS n_alarms
    FROM fin
    """,
)
def kalman_local_level_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter for the LOCAL-LEVEL state-space model (random-walk
    level + observation noise; Durbin & Koopman ch. 2) over the last
    ~4 months of daily order revenue: R = sample variance of the
    window (from exact integer-cents sums), Q = R/10, x0 = first
    observation, P0 = R. Reports the steady-state Kalman gain (the
    filter's effective smoothing constant — local level's gain
    converges geometrically), the final filtered level, total
    absolute innovation, and 3-sigma innovation alarms (the
    model-based anomaly count next to the empirical robust_outlier
    days). The corpus collapses to a calendar-bounded day rollup
    (<=123 points at every sf); the gain/level recursion is
    inherently sequential so it runs driver-side on the collected
    series in Python doubles — the IDENTICAL IEEE sequence the
    oracle's recursive CTE performs on the same exact integer inputs
    (the pacf_daily_events device)."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.filter(F.col("o_orderdate") >= F.expr(_KALMAN_CUT))
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    rows = d.orderBy("day").collect()  # calendar-bounded (<=123 rows)
    ys = [r["cents"] / 100e0 for r in rows]
    n = len(rows)
    s = sum(r["cents"] for r in rows)
    ss = sum(r["cents"] * r["cents"] for r in rows)
    r_var = (ss / 10000e0 - (s / 100e0) * (s / 100e0) / n) / (n - 1)
    q_var = r_var / 10e0
    x, p = ys[0], r_var
    sai, na, kk = 0.0, 0, 0.0
    for t in range(1, n):
        pp = p + q_var
        s2 = pp + r_var
        kk = pp / s2
        innov = ys[t] - x
        x = x + kk * innov
        p = (1e0 - kk) * pp
        sai = sai + abs(innov)
        if abs(innov) > 3e0 * math.sqrt(s2):
            na += 1
    out = [
        (
            n,
            round(math.sqrt(r_var), 4),
            round(kk, 6),
            round(x, 4),
            round(sai, 4),
            na,
        )
    ]
    return spark.createDataFrame(
        out,
        "n_points bigint, r_sd double, steady_gain double, "
        "final_level double, sum_abs_innov double, n_alarms bigint",
    )


@query(
    "yule_walker_ar2_forecast",
    """
    WITH dc AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
    cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds),
    ser AS (
        SELECT c.day, coalesce(dc.y, 0) AS y
        FROM cal c LEFT JOIN dc ON dc.day = c.day),
    lagd AS (
        SELECT y,
               lead(y, 1) OVER (ORDER BY day) AS y1,
               lead(y, 2) OVER (ORDER BY day) AS y2
        FROM ser),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS ss,
               CAST(sum(y * y1) AS BIGINT) AS syy1,
               CAST(sum(CASE WHEN y1 IS NOT NULL THEN y END)
                    AS BIGINT) AS sh1,
               CAST(sum(y1) AS BIGINT) AS st1,
               CAST(sum(y * y2) AS BIGINT) AS syy2,
               CAST(sum(CASE WHEN y2 IS NOT NULL THEN y END)
                    AS BIGINT) AS sh2,
               CAST(sum(y2) AS BIGINT) AS st2,
               max(CASE WHEN y1 IS NULL THEN y END) AS yn,
               max(CASE WHEN y2 IS NULL AND y1 IS NOT NULL THEN y END)
                   AS ynm1
        FROM lagd),
    est AS (
        SELECT n, s / n AS m, yn, ynm1,
               ss - 2e0 * (s / n) * s + n * (s / n) * (s / n) AS c0,
               syy1 - (s / n) * (sh1 + st1)
                    + (n - 1) * (s / n) * (s / n) AS c1e,
               syy2 - (s / n) * (sh2 + st2)
                    + (n - 2) * (s / n) * (s / n) AS c2e
        FROM sums),
    ph AS (
        SELECT n, m, yn, ynm1, c0,
               c1e / c0 AS r1, c2e / c0 AS r2,
               ((c1e / c0) * (1e0 - c2e / c0))
                   / (1e0 - (c1e / c0) * (c1e / c0)) AS phi1,
               (c2e / c0 - (c1e / c0) * (c1e / c0))
                   / (1e0 - (c1e / c0) * (c1e / c0)) AS phi2
        FROM est),
    fa AS (SELECT *, phi1 * (yn - m) + phi2 * (ynm1 - m) AS f1 FROM ph),
    fb AS (SELECT *, phi1 * f1 + phi2 * (yn - m) AS f2 FROM fa),
    fc3 AS (SELECT *, phi1 * f2 + phi2 * f1 AS f3 FROM fb),
    fc4 AS (SELECT *, phi1 * f3 + phi2 * f2 AS f4 FROM fc3),
    fc5 AS (SELECT *, phi1 * f4 + phi2 * f3 AS f5 FROM fc4),
    fc6 AS (SELECT *, phi1 * f5 + phi2 * f4 AS f6 FROM fc5),
    fc7 AS (SELECT *, phi1 * f6 + phi2 * f5 AS f7 FROM fc6)
    SELECT n AS n_days,
           round(m, 6) AS mean_daily,
           round(phi1, 6) AS phi1,
           round(phi2, 6) AS phi2,
           round((c0 / n) * (1e0 - phi1 * r1 - phi2 * r2), 6) AS sigma2,
           round(m + f1, 6) AS fc1, round(m + f2, 6) AS fc2,
           round(m + f3, 6) AS fc3, round(m + f4, 6) AS fc4,
           round(m + f5, 6) AS fc5, round(m + f6, 6) AS fc6,
           round(m + f7, 6) AS fc7
    FROM fc7
    """,
)
def yule_walker_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit by the Yule-Walker equations on the zero-filled daily
    event-count series, plus the 7-step recursive mean forecast —
    the autoregressive member of the forecasting family (SES/Holt/
    Holt-Winters/Theta are exponential-smoothing forms; AR(2) is the
    one that can model OSCILLATION, phi2 < 0). phi1 = r1(1-r2)/
    (1-r1^2), phi2 = (r2-r1^2)/(1-r1^2), innovation variance
    sigma2 = acvf0(1 - phi1 r1 - phi2 r2); forecasts unroll
    f_h = phi1 f_{h-1} + phi2 f_{h-2} from the last two demeaned
    observations. Exactness: every autocovariance is assembled from
    EXACT integer sums (sum y, sum y^2, lag products, head/tail
    sums) in one fixed expression, and the 7-step unroll is the
    identical binary expression tree on both engines — no iteration,
    no summation-order hazard. One events scan; everything after is
    a calendar-bounded (~30-row) frame."""
    ev = _t(spark, sf_dir, "events")
    dc = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    bounds = dc.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    ser = cal.join(dc, "day", "left").select(
        "day", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    w = Window.orderBy("day")  # calendar-bounded frame (~30 rows)
    lagd = ser.select(
        "y",
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    )
    sums = lagd.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
        F.sum(F.col("y") * F.col("y1")).cast("long").alias("syy1"),
        F.sum(F.when(F.col("y1").isNotNull(), F.col("y")))
        .cast("long")
        .alias("sh1"),
        F.sum("y1").cast("long").alias("st1"),
        F.sum(F.col("y") * F.col("y2")).cast("long").alias("syy2"),
        F.sum(F.when(F.col("y2").isNotNull(), F.col("y")))
        .cast("long")
        .alias("sh2"),
        F.sum("y2").cast("long").alias("st2"),
        F.max(F.when(F.col("y1").isNull(), F.col("y"))).alias("yn"),
        F.max(
            F.when(F.col("y2").isNull() & F.col("y1").isNotNull(), F.col("y"))
        ).alias("ynm1"),
    )
    n, s = F.col("n"), F.col("s")
    m = s / n
    est = sums.select(
        "n", "yn", "ynm1",
        m.alias("m"),
        (F.col("ss") - 2.0 * m * s + n * m * m).alias("c0"),
        (
            F.col("syy1")
            - m * (F.col("sh1") + F.col("st1"))
            + (n - 1) * m * m
        ).alias("c1e"),
        (
            F.col("syy2")
            - m * (F.col("sh2") + F.col("st2"))
            + (n - 2) * m * m
        ).alias("c2e"),
    )
    r1 = F.col("c1e") / F.col("c0")
    r2 = F.col("c2e") / F.col("c0")
    ph = est.select(
        "n", "m", "yn", "ynm1", "c0",
        r1.alias("r1"), r2.alias("r2"),
        ((r1 * (1.0 - r2)) / (1.0 - r1 * r1)).alias("phi1"),
        ((r2 - r1 * r1) / (1.0 - r1 * r1)).alias("phi2"),
    )
    p1, p2, mm = F.col("phi1"), F.col("phi2"), F.col("m")
    f = ph.withColumn(
        "f1", p1 * (F.col("yn") - mm) + p2 * (F.col("ynm1") - mm)
    )
    f = f.withColumn("f2", p1 * F.col("f1") + p2 * (F.col("yn") - mm))
    for h in range(3, 8):
        f = f.withColumn(
            f"f{h}", p1 * F.col(f"f{h-1}") + p2 * F.col(f"f{h-2}")
        )
    out = f.select(
        F.col("n").alias("n_days"),
        F.round(mm, 6).alias("mean_daily"),
        F.round(p1, 6).alias("phi1"),
        F.round(p2, 6).alias("phi2"),
        F.round(
            (F.col("c0") / F.col("n"))
            * (1.0 - p1 * F.col("r1") - p2 * F.col("r2")),
            6,
        ).alias("sigma2"),
        *[
            F.round(mm + F.col(f"f{h}"), 6).alias(f"fc{h}")
            for h in range(1, 8)
        ],
    )
    return out


@query(
    "hbos_outlier_orders",
    """
    WITH feat AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS pc,
               CAST(count(*) AS BIGINT) AS nl,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS sq
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    rng AS (
        SELECT min(pc) AS pmin, max(pc) AS pmax,
               min(nl) AS nmin, max(nl) AS nmax,
               min(sq) AS qmin, max(sq) AS qmax
        FROM feat),
    binned AS (
        SELECT f.o_orderkey, f.pc,
               least(15, ((f.pc - r.pmin) * 16) // (r.pmax - r.pmin + 1))
                   AS bp,
               least(15, ((f.nl - r.nmin) * 16) // (r.nmax - r.nmin + 1))
                   AS bl,
               least(15, ((f.sq - r.qmin) * 16) // (r.qmax - r.qmin + 1))
                   AS bq
        FROM feat f, rng r),
    cp AS (SELECT bp AS b, CAST(count(*) AS BIGINT) AS c
           FROM binned GROUP BY 1),
    cl AS (SELECT bl AS b, CAST(count(*) AS BIGINT) AS c
           FROM binned GROUP BY 1),
    cq AS (SELECT bq AS b, CAST(count(*) AS BIGINT) AS c
           FROM binned GROUP BY 1),
    mx AS (SELECT (SELECT max(c) FROM cp) AS mp,
                  (SELECT max(c) FROM cl) AS ml,
                  (SELECT max(c) FROM cq) AS mq)
    SELECT b.o_orderkey,
           round(b.pc / 100e0, 2) AS o_totalprice,
           round(log10(CAST(m.mp AS DOUBLE) / cp.c)
                 + log10(CAST(m.ml AS DOUBLE) / cl.c)
                 + log10(CAST(m.mq AS DOUBLE) / cq.c), 6) AS hbos_score
    FROM binned b
    JOIN cp ON cp.b = b.bp
    JOIN cl ON cl.b = b.bl
    JOIN cq ON cq.b = b.bq
    CROSS JOIN mx m
    ORDER BY hbos_score DESC, b.o_orderkey
    LIMIT 15
    """,
)
def hbos_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012)
    over three per-order features (total price, line count, total
    quantity): score = sum_f log10(maxbin_f / bin_count_f(x)), i.e.
    the negative log of the product of per-feature histogram
    densities under an independence assumption. The linear-time,
    model-free outlier detector: at 100 TB it is two scans (one
    min/max agg broadcast back, one binning pass joined to <=48
    broadcast bin counts) with NO pairwise work — the scale
    counterpoint to the kNN-density family. Exactness: 16 equal-width
    bins per feature computed in pure integer arithmetic
    (floor-division of nonnegative ints, identical on both engines),
    so every log10 argument is a ratio of exact integers."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    feat = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nl"),
            F.sum(F.round("l_quantity").cast("long"))
            .cast("long")
            .alias("sq"),
        )
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
            "nl",
            "sq",
        )
    )
    rng = feat.agg(
        F.min("pc").alias("pmin"), F.max("pc").alias("pmax"),
        F.min("nl").alias("nmin"), F.max("nl").alias("nmax"),
        F.min("sq").alias("qmin"), F.max("sq").alias("qmax"),
    )

    def _bin(v: str, lo: str, hi: str) -> Column:
        return F.least(
            F.lit(15),
            F.expr(f"(({v} - {lo}) * 16) div ({hi} - {lo} + 1)"),
        )

    binned = feat.crossJoin(F.broadcast(rng)).select(
        "o_orderkey", "pc",
        _bin("pc", "pmin", "pmax").alias("bp"),
        _bin("nl", "nmin", "nmax").alias("bl"),
        _bin("sq", "qmin", "qmax").alias("bq"),
    )
    cp = binned.groupBy(F.col("bp").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("cpc")
    )
    cl = binned.groupBy(F.col("bl").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("clc")
    )
    cq = binned.groupBy(F.col("bq").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("cqc")
    )
    mx = (
        cp.agg(F.max("cpc").alias("mp"))
        .crossJoin(cl.agg(F.max("clc").alias("ml")))
        .crossJoin(cq.agg(F.max("cqc").alias("mq")))
    )
    out = (
        binned.join(F.broadcast(cp), binned["bp"] == cp["b"])
        .join(F.broadcast(cl), binned["bl"] == cl["b"])
        .join(F.broadcast(cq), binned["bq"] == cq["b"])
        .crossJoin(F.broadcast(mx))
        .select(
            "o_orderkey",
            F.round(F.col("pc") / 100e0, 2).alias("o_totalprice"),
            F.round(
                F.log10(F.col("mp").cast("double") / F.col("cpc"))
                + F.log10(F.col("ml").cast("double") / F.col("clc"))
                + F.log10(F.col("mq").cast("double") / F.col("cqc")),
                6,
            ).alias("hbos_score"),
        )
    )
    return out.orderBy(F.desc("hbos_score"), "o_orderkey").limit(15)


@query(
    "lof_daily_revenue",
    f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate >= {_KALMAN_CUT}
        GROUP BY 1),
    pts AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
               day, cents
        FROM d),
    pr AS (
        SELECT p.rn AS prn, o.rn AS orn,
               abs(p.cents - o.cents) AS dist
        FROM pts p JOIN pts o ON p.rn <> o.rn),
    kd AS (
        SELECT prn, dist AS kdist FROM (
            SELECT prn, dist, orn,
                   row_number() OVER (PARTITION BY prn
                                      ORDER BY dist, orn) AS rr
            FROM pr) WHERE rr = 5),
    nb AS (
        SELECT pr.prn, pr.orn, pr.dist
        FROM pr JOIN kd ON kd.prn = pr.prn
        WHERE pr.dist <= kd.kdist),
    rch AS (
        SELECT nb.prn, nb.orn, greatest(nb.dist, ko.kdist) AS reach
        FROM nb JOIN kd ko ON ko.prn = nb.orn),
    lr AS (
        SELECT prn, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(reach) AS BIGINT) AS sr
        FROM rch GROUP BY 1),
    lrd AS (
        SELECT prn, cnt,
               CASE WHEN sr = 0 THEN NULL
                    ELSE CAST(cnt AS DOUBLE) / sr END AS lrd
        FROM lr),
    lofn AS (
        SELECT n.prn, sum(lo.lrd ORDER BY n.orn) AS s_lrd
        FROM nb n JOIN lrd lo ON lo.prn = n.orn
        GROUP BY 1),
    lofv AS (
        SELECT l.prn, ld.cnt,
               (l.s_lrd / ld.cnt) / ld.lrd AS lof
        FROM lofn l JOIN lrd ld ON ld.prn = l.prn)
    SELECT p.day, round(p.cents / 100e0, 2) AS revenue,
           v.cnt AS n_neighbors, round(v.lof, 6) AS lof
    FROM lofv v JOIN pts p ON p.rn = v.prn
    ORDER BY lof DESC, p.day
    LIMIT 10
    """,
)
def lof_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOF — Local Outlier Factor (Breunig et al. 2000), k=5, on the
    last ~4 months of daily order revenue: k-distance with the
    CORRECT tie-inclusive neighborhood (all points within the 5th-NN
    distance), reachability distance max(d(p,o), kdist(o)), local
    reachability density lrd = |N|/sum(reach), and LOF(p) =
    mean_neighbor_lrd / lrd(p) — the density-RATIO view of anomaly
    next to the model-based Kalman alarms and the global robust
    z-scores (LOF flags days that are odd relative to their local
    revenue regime, not the global spread). Every distance,
    k-distance, and reachability sum is an exact integer (cents), so
    lrd is an exact int ratio; the one cross-point double reduction
    (sum of neighbor lrds) is an EXPLICIT orn-ordered fold on both
    engines (F.aggregate over a sorted array / sum(ORDER BY) in the
    oracle). The pairwise stage is calendar-bounded (<=123^2 rows at
    every sf) — the honest small-N exact twin; the 100 TB path for
    corpus-sized point sets is grid blocking (grid_dbscan_parts)."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.filter(F.col("o_orderdate") >= F.expr(_KALMAN_CUT))
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("day")  # calendar-bounded frame (<=123 rows)
    pts = d.select(
        F.row_number().over(w).cast("long").alias("rn"), "day", "cents"
    )
    p = pts.select(
        F.col("rn").alias("prn"), F.col("cents").alias("pc")
    )
    q = pts.select(
        F.col("rn").alias("orn"), F.col("cents").alias("oc")
    )
    pr = (
        p.join(q, F.col("prn") != F.col("orn"))
        .select(
            "prn", "orn",
            F.abs(F.col("pc") - F.col("oc")).alias("dist"),
        )
    )
    wk = Window.partitionBy("prn").orderBy("dist", "orn")
    kd = (
        pr.withColumn("rr", F.row_number().over(wk))
        .filter(F.col("rr") == 5)
        .select("prn", F.col("dist").alias("kdist"))
    )
    nb = pr.join(kd, "prn").filter(
        F.col("dist") <= F.col("kdist")
    ).select("prn", "orn", "dist")
    ko = kd.select(
        F.col("prn").alias("orn"), F.col("kdist").alias("okd")
    )
    rch = nb.join(ko, "orn").select(
        "prn", "orn",
        F.greatest(F.col("dist"), F.col("okd")).alias("reach"),
    )
    lr = rch.groupBy("prn").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("reach").cast("long").alias("sr"),
    )
    lrd = lr.select(
        "prn", "cnt",
        F.when(
            F.col("sr") == 0, F.lit(None).cast("double")
        ).otherwise(F.col("cnt").cast("double") / F.col("sr")).alias("lrd"),
    )
    lo = lrd.select(
        F.col("prn").alias("orn"), F.col("lrd").alias("olrd")
    )
    lofn = (
        nb.join(lo, "orn")
        .groupBy("prn")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("orn", "olrd"))),
                F.lit(0.0),
                lambda acc, x: acc + x["olrd"],
            ).alias("s_lrd")
        )
    )
    lofv = lofn.join(lrd, "prn").select(
        "prn", "cnt",
        ((F.col("s_lrd") / F.col("cnt")) / F.col("lrd")).alias("lof"),
    )
    return (
        lofv.join(pts, lofv["prn"] == pts["rn"])
        .select(
            "day",
            F.round(F.col("cents") / 100e0, 2).alias("revenue"),
            F.col("cnt").alias("n_neighbors"),
            F.round("lof", 6).alias("lof"),
        )
        .orderBy(F.desc("lof"), "day")
        .limit(10)
    )


@query(
    "sequential_patterns_events",
    """
    WITH sess AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type,
               min(ts) AS t0
        FROM events GROUP BY 1, 2, 3),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sessions
        FROM (SELECT DISTINCT user_id, day FROM sess)),
    wa AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_with
        FROM sess GROUP BY 1),
    pat AS (
        SELECT a.event_type AS ante, b.event_type AS cons,
               CAST(count(*) AS BIGINT) AS n_pattern
        FROM sess a JOIN sess b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type <> b.event_type AND a.t0 < b.t0
        GROUP BY 1, 2)
    SELECT p.ante, p.cons, p.n_pattern,
           wa.n_with AS n_with_ante,
           round(CAST(p.n_pattern AS DOUBLE) / wa.n_with, 6)
               AS confidence,
           round((CAST(p.n_pattern AS DOUBLE) / wa.n_with)
                 / (CAST(wb.n_with AS DOUBLE)
                    / (SELECT n_sessions FROM tot)), 6) AS lift
    FROM pat p
    JOIN wa ON wa.event_type = p.ante
    JOIN wa wb ON wb.event_type = p.cons
    ORDER BY p.n_pattern DESC, p.ante, p.cons
    LIMIT 15
    """,
)
def sequential_patterns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (the length-2 PrefixSpan/GSP core):
    within each user-day session, pattern a->b is supported when the
    FIRST occurrence of a strictly precedes the first occurrence of
    b — the ORDER-aware association view the basket family
    (frequent_itemsets / association_rules) cannot express, and the
    pattern-census companion of the Markov chain queries (those
    model adjacent transitions; this counts arbitrary-gap
    precedence). Confidence = P(pattern | session has a), lift
    against the consequent's session base rate. Scale shape: the
    corpus collapses to one (user, day, type)-keyed min-timestamp
    rollup, and the precedence self-join fans out at most
    |alphabet|^2 = 25 rows per session — output-linear, never
    event^2. All supports are exact integers; ratios are single
    int-ratio doubles."""
    ev = _t(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
    ).agg(F.min("ts").alias("t0"))
    tot = sess.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    wa = sess.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_with")
    )
    a = sess.select(
        "user_id", "day",
        F.col("event_type").alias("ante"), F.col("t0").alias("ta"),
    )
    b = sess.select(
        "user_id", "day",
        F.col("event_type").alias("cons"), F.col("t0").alias("tb"),
    )
    pat = (
        a.join(b, ["user_id", "day"])
        .filter(
            (F.col("ante") != F.col("cons")) & (F.col("ta") < F.col("tb"))
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pattern"))
    )
    waa = wa.select(
        F.col("event_type").alias("ante"), F.col("n_with").alias("n_with_ante")
    )
    wab = wa.select(
        F.col("event_type").alias("cons"), F.col("n_with").alias("n_with_cons")
    )
    return (
        pat.join(F.broadcast(waa), "ante")
        .join(F.broadcast(wab), "cons")
        .crossJoin(F.broadcast(tot))
        .select(
            "ante", "cons", "n_pattern", "n_with_ante",
            F.round(
                F.col("n_pattern").cast("double") / F.col("n_with_ante"), 6
            ).alias("confidence"),
            F.round(
                (F.col("n_pattern").cast("double") / F.col("n_with_ante"))
                / (
                    F.col("n_with_cons").cast("double")
                    / F.col("n_sessions")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pattern"), "ante", "cons")
        .limit(15)
    )


@query(
    "interval_open_orders_weekly",
    """
    WITH iv AS (
        SELECT ((CAST(date_diff('day', DATE '1994-12-26',
                      CAST(o.o_orderdate AS DATE)) AS BIGINT)) // 7)
                   AS wks,
               greatest(
                   ((CAST(date_diff('day', DATE '1994-12-26',
                          CAST(o.o_orderdate AS DATE)) AS BIGINT)) // 7),
                   ((CAST(date_diff('day', DATE '1994-12-26',
                          max(CAST(l.l_shipdate AS DATE))) AS BIGINT)) // 7))
                   AS wke
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate),
    bounds AS (SELECT min(wks) AS mn, max(wke) AS mx FROM iv),
    weeks AS (
        SELECT unnest(generate_series(mn, mx)) AS wk FROM bounds),
    cnt AS (
        SELECT w.wk, CAST(count(*) AS BIGINT) AS n_open
        FROM weeks w JOIN iv ON w.wk BETWEEN iv.wks AND iv.wke
        GROUP BY 1)
    SELECT CAST(DATE '1994-12-26' + to_days(CAST(wk * 7 AS INTEGER))
                AS DATE) AS week_start,
           n_open
    FROM cnt
    ORDER BY week_start
    """,
)
def interval_open_orders_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join decomposed for scale: each order is open
    over [orderdate, last shipdate of its lines]; the ask is open-
    order counts per calendar week. The naive formulation is a
    RANGE theta-join (weeks x intervals, BETWEEN predicate — what
    the oracle runs: O(W x N) candidate pairs, a broadcast-
    nested-loop at cluster scale); the engine instead EXPLODES each
    interval into the week indices it covers (F.sequence — linear in
    interval length, here naturally bounded by order fulfilment
    spans) and hash-aggregates on the week key. Green hash = the
    decomposition is lossless, the same prefix-decomposition
    discipline as watermark_lateness_audit. Week indexing is pure
    integer floor-division from a Monday anchor PREDATING the data
    (1994-12-26), so no engine-specific date_trunc('week') semantics
    and no negative-division hazard. Intervals are clamped to end no
    earlier than they start (synthetic shipdates can precede the
    order date; an unclamped reversed interval would make
    F.sequence count DESCENDING weeks while BETWEEN matches none)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    anchor = F.lit("1994-12-26").cast("date")
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max(F.to_date("l_shipdate")).alias("endd"))
        .select(
            F.expr(
                "datediff(to_date(o_orderdate), DATE '1994-12-26') div 7"
            ).cast("long").alias("wks"),
            F.greatest(
                F.expr(
                    "datediff(to_date(o_orderdate), DATE '1994-12-26') div 7"
                ),
                F.expr("datediff(endd, DATE '1994-12-26') div 7"),
            ).cast("long").alias("wke"),
        )
    )
    cnt = (
        iv.select(F.explode(F.sequence("wks", "wke")).alias("wk"))
        .groupBy("wk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_open"))
    )
    return cnt.select(
        F.date_add(anchor, (F.col("wk") * 7).cast("int")).alias("week_start"),
        "n_open",
    ).orderBy("week_start")


def _duck_taildep_sql() -> str:
    # exact type-1 quantile of column col at integer rank r over its
    # distinct-value CDF (cum >= r, prev < r)
    return """
    WITH v AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    rk AS (
        SELECT n,
               (9 * n + 9) // 10 AS r90u, (19 * n + 19) // 20 AS r95u,
               (n + 9) // 10 AS r90l, (n + 19) // 20 AS r95l
        FROM nn),
    cx AS (
        SELECT x AS val,
               CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cum,
               CAST(coalesce(sum(c) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev
        FROM (SELECT x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1)),
    cy AS (
        SELECT y AS val,
               CAST(sum(c) OVER (ORDER BY y) AS BIGINT) AS cum,
               CAST(coalesce(sum(c) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1)),
    thr AS (
        SELECT
          (SELECT min(val) FROM cx, rk WHERE cum >= r90u AND prev < r90u)
              AS qx90u,
          (SELECT min(val) FROM cx, rk WHERE cum >= r95u AND prev < r95u)
              AS qx95u,
          (SELECT min(val) FROM cx, rk WHERE cum >= r90l AND prev < r90l)
              AS qx90l,
          (SELECT min(val) FROM cx, rk WHERE cum >= r95l AND prev < r95l)
              AS qx95l,
          (SELECT min(val) FROM cy, rk WHERE cum >= r90u AND prev < r90u)
              AS qy90u,
          (SELECT min(val) FROM cy, rk WHERE cum >= r95u AND prev < r95u)
              AS qy95u,
          (SELECT min(val) FROM cy, rk WHERE cum >= r90l AND prev < r90l)
              AS qy90l,
          (SELECT min(val) FROM cy, rk WHERE cum >= r95l AND prev < r95l)
              AS qy95l),
    cnt AS (
        SELECT
          CAST(sum(CASE WHEN v.x > t.qx90u THEN 1 ELSE 0 END) AS BIGINT)
              AS nx90u,
          CAST(sum(CASE WHEN v.x > t.qx90u AND v.y > t.qy90u
                        THEN 1 ELSE 0 END) AS BIGINT) AS nj90u,
          CAST(sum(CASE WHEN v.x <= t.qx90l THEN 1 ELSE 0 END) AS BIGINT)
              AS nx90l,
          CAST(sum(CASE WHEN v.x <= t.qx90l AND v.y <= t.qy90l
                        THEN 1 ELSE 0 END) AS BIGINT) AS nj90l,
          CAST(sum(CASE WHEN v.x > t.qx95u THEN 1 ELSE 0 END) AS BIGINT)
              AS nx95u,
          CAST(sum(CASE WHEN v.x > t.qx95u AND v.y > t.qy95u
                        THEN 1 ELSE 0 END) AS BIGINT) AS nj95u,
          CAST(sum(CASE WHEN v.x <= t.qx95l THEN 1 ELSE 0 END) AS BIGINT)
              AS nx95l,
          CAST(sum(CASE WHEN v.x <= t.qx95l AND v.y <= t.qy95l
                        THEN 1 ELSE 0 END) AS BIGINT) AS nj95l
        FROM v, thr t)
    SELECT u.u_pct,
           CASE WHEN u.u_pct = 90 THEN c.nx90u ELSE c.nx95u END
               AS n_x_upper,
           CASE WHEN u.u_pct = 90 THEN c.nj90u ELSE c.nj95u END
               AS n_joint_upper,
           round(CAST(CASE WHEN u.u_pct = 90 THEN c.nj90u
                           ELSE c.nj95u END AS DOUBLE)
                 / CASE WHEN u.u_pct = 90 THEN c.nx90u ELSE c.nx95u END,
                 6) AS lambda_upper,
           CASE WHEN u.u_pct = 90 THEN c.nx90l ELSE c.nx95l END
               AS n_x_lower,
           CASE WHEN u.u_pct = 90 THEN c.nj90l ELSE c.nj95l END
               AS n_joint_lower,
           round(CAST(CASE WHEN u.u_pct = 90 THEN c.nj90l
                           ELSE c.nj95l END AS DOUBLE)
                 / CASE WHEN u.u_pct = 90 THEN c.nx90l ELSE c.nx95l END,
                 6) AS lambda_lower
    FROM cnt c, (SELECT unnest([90, 95]) AS u_pct) u
    ORDER BY u.u_pct
    """
