"""The session-scoped table-handle cache in catalog._base._t: same handle
within a session, fresh resolution for a different session id, and no
cross-contamination between sf_dirs or tables."""

from __future__ import annotations

import os

import pytest

from social_link_prediction_spark.catalog._base import _T_CACHE, _t


@pytest.fixture()
def sf_dir(spark, tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    spark.range(5).selectExpr("id AS o_orderkey").write.parquet(
        str(d / "orders.parquet")
    )
    spark.range(3).selectExpr("id AS s_suppkey").write.parquet(
        str(d / "supplier.parquet")
    )
    return str(d)


def test_same_handle_within_session(spark, sf_dir):
    a = _t(spark, sf_dir, "orders")
    b = _t(spark, sf_dir, "orders")
    assert a is b
    assert a.count() == 5


def test_keys_separate_tables_and_dirs(spark, sf_dir, tmp_path):
    a = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    assert a is not s
    other = tmp_path / "sf2"
    other.mkdir()
    spark.range(7).selectExpr("id AS o_orderkey").write.parquet(
        str(other / "orders.parquet")
    )
    b = _t(spark, str(other), "orders")
    assert b is not a
    assert b.count() == 7


def test_new_application_id_clears_cache(spark, sf_dir, monkeypatch):
    _t(spark, sf_dir, "orders")
    assert len(_T_CACHE) > 0
    real_app = spark.sparkContext.applicationId
    # simulate a dead-session key left behind by a previous session
    stale = ("app-dead-0000", os.path.abspath(sf_dir), "orders")
    _T_CACHE.clear()
    _T_CACHE[stale] = "sentinel"
    df = _t(spark, sf_dir, "orders")
    assert stale not in _T_CACHE
    assert (real_app, os.path.abspath(sf_dir), "orders") in _T_CACHE
    assert df.count() == 5
