"""Join helpers (SURVEY.md §2.3, J1–J10).

Most reference joins are plain equi-joins Catalyst handles natively;
these helpers encode the join *strategy* decisions (broadcast the
dimension, semi/anti for membership) that matter at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.operators.windows import epoch_us


def enrich(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str], broadcast_dim: bool = True
) -> DataFrame:
    """J1/J2/J3: left-join enrichment. Dimension side broadcast by
    default — at 100 TB the fact table must never shuffle for a lookup
    that fits in executor memory.
    """
    right = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(right, on=on, how="left")


def exists_in(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """J8: membership probe = left semi join (no row multiplication,
    right side only ships join keys)."""
    return df.join(other, on=list(on), how="left_semi")


def not_exists_in(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """J9: taboo filter = left anti join."""
    return df.join(other, on=list(on), how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    tolerance_seconds: int | None = None,
    right_order: str | None = None,
    matched_ts: str | None = None,
) -> DataFrame:
    """Backward as-of join: for every left row, attach the single
    latest right row with ``right_ts <= left_ts`` on the same key
    (optionally within ``tolerance_seconds``). Rows with no match keep
    nulls (left-join semantics).

    Not in the reference (SURVEY §2.3 notes it has only equi-joins) —
    added as the temporal primitive a training-data/event pipeline
    needs (attribution, last-known-state lookup).

    Implemented as union + last-non-null carry-forward window: ONE
    shuffle on the key and a single sort, with state bounded by the
    window frame. This is the scale path — a range join explodes into
    per-pair probes, and a per-key merge in ``applyInPandas`` drags
    every row through Python. The right row's timestamp and payload
    travel in one struct so the carried values can never mix rows.

    Ties: a right row at exactly ``left_ts`` is visible (<=); among
    right rows sharing a timestamp the one with the greatest
    ``right_order`` wins (pass an id column for determinism).
    """
    keys = list(on)
    rstruct = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(p) for p in payload]
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        (F.col(right_order) if right_order else F.lit(0)).alias("__tie"),
        rstruct.alias("__r"),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).alias("__tie"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("__r", ignorenulls=True).over(w)
    out = u.withColumn("__c", carried).filter(F.col("__side") == 1)
    valid = F.col("__c").isNotNull()
    if tolerance_seconds is not None:
        valid = valid & (
            epoch_us(F.col("__c.__rts"))
            >= epoch_us(F.col("__ts")) - tolerance_seconds * 1_000_000
        )
    cols = [F.col(c) for c in left.columns]
    if matched_ts:
        cols.append(F.when(valid, F.col("__c.__rts")).alias(matched_ts))
    cols.extend(F.when(valid, F.col(f"__c.{p}")).alias(p) for p in payload)
    return out.select(*cols)


def bucketed_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_seconds: int = 3600,
    extra_on: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key: decompose the time
    axis into fixed buckets, explode each interval to the buckets it
    covers, equi-join points on the bucket id, then apply the exact
    containment predicate.

    Turns what Catalyst would otherwise plan as a broadcast
    nested-loop / cartesian join into a plain shuffled hash join —
    the standard big-data interval-join trick (used by every
    spatial/temporal engine; cf. Spark's own range-join hints in
    Databricks runtime, absent in OSS). Fan-out is
    ``interval_width / bucket_seconds`` rows per interval, so pick a
    bucket near the median interval width.

    Each matched (point, interval) pair is produced exactly once — a
    point lives in exactly one bucket and an interval's bucket list
    never repeats — so no dedup pass is needed.
    """
    b = F.lit(bucket_seconds * 1_000_000)
    pb = points.withColumn("__bucket", (epoch_us(F.col(point_ts)) / b).cast("long"))
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (epoch_us(F.col(start_ts)) / b).cast("long"),
                (epoch_us(F.col(end_ts)) / b).cast("long"),
            )
        ),
    )
    on = ["__bucket", *(list(extra_on) if extra_on else [])]
    joined = pb.join(ib, on=on, how=how)
    return joined.filter(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
    ).drop("__bucket")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-breaking equi-join: replicate each RIGHT row across
    ``n_salts`` salt values and scatter LEFT rows uniformly over them,
    so a hot key's rows land on ``n_salts`` reducers instead of one.

    AQE's skew-join split handles most sort-merge skew at runtime;
    this is for the cases it can't — shuffled hash joins, skew the
    stats miss, or a deliberately pinned partitioning. Cost: the right
    side is shuffled ``n_salts``× larger, so use it when right ≪ left
    (the dimension-with-hot-keys shape) but too big to broadcast.

    The left salt must be uniform but NOT correlated with the join
    key (salting by hash(key) would re-concentrate the hot key) —
    ``monotonically_increasing_id`` gives a per-row value that is
    deterministic within a job run and spreads evenly.

    Only left-preserving join types are valid: the right side is
    replicated across salts, so right/full outer would emit each
    unmatched right row once per salt.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — right-preserving outer "
            "joins would duplicate unmatched right rows n_salts times"
        )
    lsalt = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    rsalt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return lsalt.join(rsalt, [on, "__salt"], how).drop("__salt")


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skewed aggregation for algebraic functions
    (sum/count/min/max): partial-aggregate on (key, salt) — hot keys
    spread over ``n_salts`` reducers — then combine partials per key.
    Spark's map-side partial agg already does this per input
    partition; explicit salting helps when the FIRST shuffle itself
    would hot-spot (e.g. high-cardinality payload prevents map-side
    combine, or the hot key dominates single input partitions).

    ``aggs``: {column: fn} with fn in sum|count|min|max. count
    combines via sum of partial counts.
    """
    keys = list(keys)
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    partial_exprs = []
    final_exprs = []
    for c, fn in aggs.items():
        p = f"__p_{fn}_{c}"
        if fn == "count":
            partial_exprs.append(F.count(c).alias(p))
            final_exprs.append(F.sum(p).alias(f"count_{c}"))
        elif fn == "sum":
            partial_exprs.append(F.sum(c).alias(p))
            final_exprs.append(F.sum(p).alias(f"sum_{c}"))
        elif fn == "min":
            partial_exprs.append(F.min(c).alias(p))
            final_exprs.append(F.min(p).alias(f"min_{c}"))
        elif fn == "max":
            partial_exprs.append(F.max(c).alias(p))
            final_exprs.append(F.max(p).alias(f"max_{c}"))
        else:  # pragma: no cover - guarded by tests
            raise ValueError(f"non-algebraic aggregate: {fn}")
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def _bloom_positions(col: Column, num_bits: int, n_hashes: int) -> list[Column]:
    """k independent bit positions for a value: xxhash64 with k seeds
    modulo the filter width (standard Bloom construction)."""
    return [
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(num_bits))
        for seed in range(1, n_hashes + 1)
    ]


def bloom_semi_filter(
    fact: DataFrame,
    keys: DataFrame,
    on: str,
    num_bits: int = 1 << 22,
    n_hashes: int = 5,
) -> DataFrame:
    """Bloom-filter pre-filter: build a bitmap over ``keys[on]`` (one
    distributed bit_or aggregation), broadcast it as a single
    array<long> row, and drop fact rows that definitely have no match
    BEFORE the real join's shuffle. The classic 100 TB move when a
    selective dimension exists but the fact side would otherwise
    shuffle in full; false positives only — the real join (or a
    left-semi after) stays exact.

    Built from public primitives (xxhash64 k-seed hashing, bit_or
    aggregation, broadcast of a ``num_bits/8``-byte bitmap — driver
    memory is bounded by the filter size you choose, exactly like
    Spark's own runtime bloom join filters). Spark 4's internal
    ``bloom_filter_agg`` is not resolvable from the public function
    registry, hence the explicit construction.
    """
    # bit positions go up to num_bits-1, so the word array must cover
    # ceil(num_bits/64) words; round up rather than truncate
    num_bits = ((num_bits + 63) // 64) * 64
    n_words = num_bits // 64
    pos = keys.select(
        F.explode(F.array(*_bloom_positions(F.col(on), num_bits, n_hashes))).alias("p")
    )
    # F.shiftleft takes a literal int shift; SQL shiftleft takes expressions
    sparse = (
        pos.select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("mask"))
        .collect()
    )
    bitmap = [0] * n_words
    for r in sparse:
        bitmap[r["w"]] = r["mask"]
    bmp = fact.sparkSession.createDataFrame([(bitmap,)], "__bf array<long>")
    cond = None
    for seed in range(1, n_hashes + 1):
        hit = F.expr(
            f"(element_at(__bf, cast(pmod(xxhash64({on}, {seed}), {num_bits}) / 64 as int) + 1)"
            f" & shiftleft(1L, cast(pmod(xxhash64({on}, {seed}), {num_bits}) % 64 as int))) != 0"
        )
        cond = hit if cond is None else (cond & hit)
    return fact.join(F.broadcast(bmp)).filter(cond).drop("__bf")
