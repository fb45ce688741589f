"""Planguard lint for global-ordered windows (VERDICT r7 item 2).

Every ``Window.orderBy(...)``-without-``partitionBy`` site in the
package is a single-task global sort of its input frame. This test
forces each site to carry an explicit scale classification in the
LEDGER below:

- ``bounded`` — the frame provably cannot grow with corpus rows
  (calendar days, fixed bins/grids, limit(k) heads, enums, guarded or
  documented caller contracts).
- ``support`` — a distinct-VALUE axis (CDF over money cents / scores /
  feature values): grows with the corpus only until it saturates the
  value support; operators/stats.bucketed_prefix_sums (or
  operators/windows.global_row_number) is the named route when a
  deployment's support is large.

There is deliberately NO acceptable "corpus" class: frames that grow
with corpus rows must be rewired (global_row_number + exact_ntile for
ntile/rank surfaces, bucketed_prefix_sums for running sums,
orderBy().limit(k) for top-k heads) — the r8 pass retired 20+ such
sites. A new unclassified site fails this test with instructions.

Keys are ``relpath|stripped-source-line`` so the ledger survives line
drift; two sites in one file sharing identical code text share one
entry (same shape, same classification).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.window_lint import extract_sites

ALLOWED = {"bounded", "support"}

LEDGER = {
    'operators/windows.py|w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, upper)':
        ('support',
         'W5 utility; caller contract: bounded (calendar) or distinct-value frames; bucketed_prefix_sums is the corpus route'),
    'operators/windows.py|w = Window.orderBy(F.monotonically_increasing_id())':
        ('bounded',
         'W6 property-check utility; sortedness_audit is the distributed form'),
    'operators/aggregates.py|w = Window.orderBy("degree").rowsBetween(Window.unboundedPreceding, -1)':
        ('support',
         'distinct-degree CCDF frame (sublinear); bucketed_prefix_sums is the corpus route'),
    'catalog/c01.py|w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'fixed histogram-bin frame'),
    'catalog/c02.py|"n", F.row_number().over(Window.orderBy("day")).cast("long").alias("t")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c02.py|Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'price-bucket frame (fixed bucket count)'),
    'catalog/c02.py|w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'calendar-day frame'),
    'catalog/c02.py|w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)':
        ('support',
         'bucket-prefiltered skyline survivors; value-support-bounded'),
    'catalog/c02.py|w = Window.orderBy("pval", "nation")':
        ('bounded',
         'per-nation frame (25 rows)'),
    'catalog/c02.py|wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c02.py|wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c03.py|"*", F.row_number().over(Window.orderBy(F.col("day").desc())).alias("rk")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c03.py|(F.row_number().over(Window.orderBy("day")) - 1).cast("long").alias("t"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c03.py|.over(Window.orderBy(F.col("c").desc(), "t"))  # <=100-row frame':
        ('bounded',
         'runs on the <=100-row head (limit upstream)'),
    'catalog/c03.py|.over(Window.orderBy(F.col("cf").desc(), "t"))':
        ('bounded',
         'runs on the 20-row head (limit upstream)'),
    'catalog/c03.py|.over(Window.orderBy(F.col("jaccard").desc(), "sa", "sb"))':
        ('bounded',
         'source-pair frame (|sources|^2, enum-sized)'),
    'catalog/c03.py|.over(Window.orderBy(col.desc(), "u", "v"))':
        ('bounded',
         'runs on the _LP_K-row head (limit upstream)'),
    'catalog/c03.py|F.row_number().over(Window.orderBy("ar", "day")).alias("rk"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c03.py|F.row_number().over(Window.orderBy("ar", "x")).alias("rk"),':
        ('bounded',
         'monthly-aggregate frame (calendar-bounded)'),
    'catalog/c03.py|F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c03.py|w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'fixed bin frame'),
    'catalog/c03.py|w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'decile frame (10 rows)'),
    'catalog/c03.py|w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'calendar-day frame'),
    'catalog/c03.py|w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'decile frame (10 rows)'),
    'catalog/c03.py|w10 = Window.orderBy(F.col("n").desc(), F.col("part").asc())':
        ('bounded',
         'runs on the 10-row head (limit upstream)'),
    'catalog/c03.py|wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c04.py|"rb", F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id"))':
        ('bounded',
         'runs on the _RRF_DEPTH-row head (limit upstream)'),
    'catalog/c04.py|"rn", F.row_number().over(Window.orderBy(F.col("dur").desc()))':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c04.py|"x", F.row_number().over(Window.orderBy(F.col("x").desc())).alias("rn")':
        ('bounded',
         'runs on the 201-row head (limit upstream)'),
    'catalog/c04.py|"yc", F.row_number().over(Window.orderBy("day")).cast("long").alias("t")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|(F.row_number().over(Window.orderBy("day")) - 1).cast("long").alias("t"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|.over(Window.orderBy(F.col("strength").desc(), "source"))':
        ('bounded',
         'per-source frame (enum-sized)'),
    'catalog/c04.py|/ F.row_number().over(Window.orderBy("day"))':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|F.datediff("day", F.lag("day").over(Window.orderBy("day")))':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|F.row_number().over(Window.orderBy("d2", "i")).alias("r"),':
        ('bounded',
         'matrix-profile day frame (calendar-bounded)'),
    'catalog/c04.py|F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|F.row_number().over(Window.orderBy(F.col("bvar").desc(), "bin")).alias(':
        ('bounded',
         '64-bin frame'),
    'catalog/c04.py|F.row_number().over(Window.orderBy(F.col("cosine").desc(), "doc_id")),':
        ('bounded',
         'runs on the _RRF_DEPTH-row head (limit upstream)'),
    'catalog/c04.py|F.row_number().over(Window.orderBy(F.col("d2").desc(), "i")).alias("r"),':
        ('bounded',
         'matrix-profile day frame (calendar-bounded)'),
    'catalog/c04.py|F.row_number().over(Window.orderBy(F.col("day").desc())).alias("rn"),':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|F.row_number().over(Window.orderBy(F.col("gain").desc(), "t")).alias("r"),':
        ('bounded',
         'calendar-day candidate frame'),
    'catalog/c04.py|nt = F.ntile(4).over(Window.orderBy("revenue", "day"))':
        ('bounded',
         'ntile over the calendar-day frame'),
    'catalog/c04.py|w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         '64-bin frame'),
    'catalog/c04.py|w = Window.orderBy("day")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|w = Window.orderBy("i")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|wbnd = Window.orderBy("b")':
        ('bounded',
         'fixed bucket frame'),
    'catalog/c04.py|wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'distinct |dy| over day pairs (calendar-span^2-bounded)'),
    'catalog/c04.py|wd = Window.orderBy("day")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c04.py|wlag = Window.orderBy("dur")':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c04.py|woff = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'fixed bucket frame'),
    'catalog/c04.py|wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'distinct |dy| over day pairs (calendar-span^2-bounded)'),
    'catalog/c05.py|w = Window.orderBy("day")  # calendar-bounded frame (<=123 rows)':
        ('bounded',
         'calendar-day frame (annotated inline)'),
    'catalog/c05.py|w = Window.orderBy("day")  # calendar-bounded frame (~30 rows)':
        ('bounded',
         'calendar-day frame (annotated inline)'),
    'catalog/c05.py|w = Window.orderBy("fid").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'fixed 499-file frame'),
    'catalog/c05.py|w = Window.orderBy(F.col("dur").desc()).rowsBetween(':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c05.py|w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c05.py|w_excl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c05.py|w_incl = Window.orderBy("t").rowsBetween(':
        ('bounded',
         'duration frame (calendar-span-bounded)'),
    'catalog/c06.py|.over(Window.orderBy(F.desc("s1"), "pk"))':
        ('bounded',
         'runs on the 512-row list head (limit upstream)'),
    'catalog/c06.py|.over(Window.orderBy(F.desc("s2"), "pk"))':
        ('bounded',
         'runs on the 512-row list head (limit upstream)'),
    'catalog/c06.py|w1 = Window.orderBy("sse", "t")  # candidate frame, day-bounded':
        ('bounded',
         'calendar-day frame'),
    'catalog/c06.py|w15 = Window.orderBy("day").rowsBetween(-7, 7)':
        ('bounded',
         'calendar-day frame'),
    'catalog/c06.py|w2 = Window.orderBy("sse", "t")':
        ('bounded',
         'calendar-day frame'),
    'catalog/c06.py|w30 = Window.orderBy("t").rowsBetween(-29, 0)':
        ('bounded',
         'calendar-day frame'),
    'catalog/c06.py|w7 = Window.orderBy("day").rowsBetween(-3, 3)':
        ('bounded',
         'calendar-day frame'),
    'catalog/c06.py|wbest = Window.orderBy("l1", "b")  # 41-row frame':
        ('bounded',
         '41-row slope grid'),
    'catalog/c06.py|wc = Window.orderBy("dem").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'distinct daily-demand values (calendar-bounded frame)'),
    'catalog/c06.py|wc = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'distinct order DATES (calendar-bounded frame)'),
    'catalog/c06.py|wd = Window.orderBy("day")  # calendar-bounded frame':
        ('bounded',
         'calendar-day frame'),
    'catalog/c06.py|we = Window.orderBy("est_cost", "name")  # 8-row frame':
        ('bounded',
         '8-row plan frame'),
    'catalog/c06.py|wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'first-char bucket frame (~36 rows)'),
    'catalog/c06.py|wp = Window.orderBy("dem").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'distinct daily-demand values (calendar-bounded frame)'),
    'catalog/c06.py|wp = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'distinct order DATES (calendar-bounded frame)'),
    'catalog/c06.py|wr = Window.orderBy("mse", "lam_ratio")  # 8-row frame':
        ('bounded',
         '8-row CV-grid frame'),
    'catalog/c06.py|wt = Window.orderBy("true_cost", "name")':
        ('bounded',
         '8-row plan frame'),
    'catalog/c06.py|wtop = Window.orderBy(F.abs(F.col("aw")).desc(), "d")':
        ('bounded',
         'calendar-day argmax frame'),
    'catalog/c06.py|wtp = Window.orderBy(F.abs(F.col("bw")).desc(), "p")':
        ('bounded',
         'priority/segment enum frames'),
    'catalog/c06.py|wts = Window.orderBy(F.abs(F.col("cw")).desc(), "s")':
        ('bounded',
         'priority/segment enum frames'),
    'graph/paths.py|w = Window.orderBy(hash60(skey, F.lit(s + 1_000_003)), skey)':
        ('bounded',
         'hash-prefiltered sample frame (~target rows); skey is the '
         'r10 sample_key hook, same site as before'),
    'ml/linksplit.py|"__idx", F.row_number().over(Window.orderBy(node_id)) - 1':
        ('bounded',
         'guarded by n_nodes < _SCALABLE_INDEX_MIN; else the ranged device'),
    'operators/aggregates.py|w_asc = Window.orderBy(F.col(value_col).asc(), F.col(key_col).asc())':
        ('bounded',
         'documented contract: per-key rollup input, never the fact table'),
    'operators/aggregates.py|w_desc = Window.orderBy(F.col(value_col).desc(), F.col(key_col).asc())':
        ('bounded',
         'documented contract: per-key rollup input, never the fact table'),
    'operators/stats.py|F.row_number().over(Window.orderBy(order_col)).cast("long").alias("t"),':
        ('bounded',
         'documented contract: caller passes a bounded (daily) series'),
    'operators/stats.py|w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)':
        ('bounded',
         'explicit small-frame fallback; n_buckets routes corpus frames'),
    'operators/stats.py|w7 = Window.orderBy(day_col).rowsBetween(-half, half)':
        ('bounded',
         'documented contract: caller passes a bounded (daily) series'),
    'operators/stats.py|wo = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)':
        ('bounded',
         'n_buckets-row offset frame'),
    'operators/stats.py|wr = Window.orderBy("r")':
        ('bounded',
         'month-pair / monthly-residual frames (calendar-bounded)'),
    'operators/stats.py|ws = Window.orderBy("s")':
        ('bounded',
         'month-pair / monthly-residual frames (calendar-bounded)'),
    'pipelines/similarity.py|w0 = Window.orderBy("__h", "id")':
        ('bounded',
         'runs on the k-row seed head (limit upstream)'),
}

def test_every_global_window_site_is_classified():
    sites = extract_sites()
    assert sites, "extractor found no sites — detector broken?"
    unknown = []
    for rel, ln, code in sites:
        key = f"{rel}|{code}"
        if key not in LEDGER:
            unknown.append(f"{rel}:{ln}: {code}")
    assert not unknown, (
        "unclassified Window.orderBy-without-partitionBy site(s).\n"
        "Either rewire onto global_row_number / exact_ntile / "
        "bucketed_prefix_sums / orderBy().limit(k) (corpus-growing "
        "frames), or add a LEDGER entry with class 'bounded' or "
        "'support' and a reason:\n  " + "\n  ".join(unknown)
    )


def test_ledger_classes_are_allowed():
    bad = {
        k: v for k, v in LEDGER.items() if v[0] not in ALLOWED or not v[1]
    }
    assert not bad, f"invalid ledger classes/reasons: {sorted(bad)}"


def test_ledger_has_no_dead_entries():
    live = {f"{rel}|{code}" for rel, _ln, code in extract_sites()}
    dead = sorted(set(LEDGER) - live)
    assert not dead, (
        "ledger entries with no matching source site (stale after a "
        "rewire/edit — delete them): " + ", ".join(dead)
    )


def test_no_disguised_global_orderings():
    """The detector keys on the literal ``Window.orderBy(`` spelling;
    guard the two ways a global ordering could dodge it:
    ``Window.partitionBy().orderBy`` (empty partitionBy is still a
    global frame) and assigning ``Window.orderBy`` to an alias."""
    import social_link_prediction_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                for i, line in enumerate(f.read().splitlines()):
                    if "Window.partitionBy().orderBy(" in line or (
                        "= Window.orderBy" in line
                        and "Window.orderBy(" not in line
                    ):
                        offenders.append(
                            f"{os.path.relpath(path, root)}:{i + 1}"
                        )
    assert not offenders, (
        "global ordering spelled outside the detector: "
        + ", ".join(offenders)
    )
