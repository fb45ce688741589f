"""The catalog's shared core: the registry and the table reader.

``QUERIES`` maps a query name to its ``(spark, sf_dir) -> DataFrame``
callable and ``ORACLES`` maps it to the matching DuckDB SQL. ``query``
registers both and refuses a name that is already registered. ``_t``
reads a TESTDATA.md table through a session-scoped handle cache, and
``_trunc_ntz`` truncates TIMESTAMP_NTZ columns independently of the
session time zone. ``_DUCK_H60`` is the DuckDB twin of
``ml.linksplit.hash60``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# 60-bit md5 hash as DuckDB SQL — the oracle twin of ml.linksplit.hash60
# (used by the link split, the negative sampler, and the stratified sampler).
_DUCK_H60 = (
    "CAST(concat('0x', substr(md5(concat_ws(chr(31), {args})), 1, 15)) AS BIGINT)"
)


# Session-scoped table-HANDLE cache (r9 perf). A DataFrameReader call
# costs ~150-250 ms of driver time (py4j + file listing + footer/schema
# resolution) and the bench's 194 entries issue 291 `_t` calls — ~50 s
# of pure re-resolution per pass. Caching the LAZY DataFrame handle per
# (session, dir, table) is table registration (cf. session.register_views),
# not result caching: no rows are materialized and every action still
# computes from the parquet inputs. Keyed by applicationId so a new
# session never receives handles of a stopped one.
_T_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, os.path.abspath(sf_dir), name)
    df = _T_CACHE.get(key)
    if df is None:
        if _T_CACHE and next(iter(_T_CACHE))[0] != app:
            _T_CACHE.clear()  # previous session's handles are dead
        df = _t_load(spark, sf_dir, name)
        _T_CACHE[key] = df
    return df


def _t_load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The events table has been written both as TIMESTAMP(NANOS)
        # (vectorized reader rejects it by default → read nanos as long)
        # and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read natively
        # as TIMESTAMP_NTZ). Normalize every path to TIMESTAMP_NTZ at
        # the UTC wall-clock: parquet NTZ is exactly DuckDB's TIMESTAMP,
        # and an NTZ `ts` makes every downstream bucket label
        # independent of spark.sql.session.timeZone (VERDICT-r3 #3).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        dt = dict(df.dtypes).get("ts")
        ntz_epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
        if dt == "bigint":  # TIMESTAMP(NANOS) read raw: nanos div 1000
            df = df.withColumn(
                "ts", F.expr(f"timestampadd(MICROSECOND, ts div 1000, {ntz_epoch})")
            )
        elif dt == "timestamp":  # harness read it as LTZ: pin the UTC wall-clock
            df = df.withColumn(
                "ts", F.expr(f"timestampadd(MICROSECOND, unix_micros(ts), {ntz_epoch})")
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _trunc_ntz(unit: str, col: str | Column) -> Column:
    """Session-TZ-independent truncation for TIMESTAMP_NTZ columns.

    ``F.date_trunc`` always returns session-zone TIMESTAMP (it
    implicitly casts NTZ input), so its bucket labels shift with
    ``spark.sql.session.timeZone``. Rebuilding the truncated wall-clock
    from extracted fields stays NTZ end-to-end — matching DuckDB's
    ``date_trunc`` over its (NTZ) TIMESTAMP exactly."""
    c = F.col(col) if isinstance(col, str) else col
    y, mo, d = F.year(c), F.month(c), F.dayofmonth(c)
    zero = F.lit(0)
    if unit == "hour":
        return F.make_timestamp_ntz(y, mo, d, F.hour(c), zero, zero)
    if unit == "day":
        return F.make_timestamp_ntz(y, mo, d, zero, zero, zero)
    if unit == "month":
        return F.make_timestamp_ntz(y, mo, F.lit(1), zero, zero, zero)
    raise ValueError(f"unsupported truncation unit: {unit}")


def query(name: str, oracle: str | None = None):
    """Register a catalog entry (and its oracle, when SQL-expressible).

    A name registers once: a second registration raises ``ValueError``
    instead of silently replacing the first entry."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"catalog query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
