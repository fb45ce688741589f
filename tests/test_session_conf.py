"""SPARK_GRAFT_CONF hygiene: malformed pairs (no '=', empty key or
value) must raise instead of silently setting an empty conf value
(ADVICE r9). Tested without building a session — the validation runs
before getOrCreate, so a raise never reaches the JVM. Sessions run with
ANSI mode on, so BIGINT overflow raises instead of wrapping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from social_link_prediction_spark import session as sess


@pytest.mark.parametrize(
    "bad",
    [
        "spark.sql.shuffle.partitions",  # no separator
        "=64",  # empty key
        "spark.sql.shuffle.partitions=",  # empty value
        "a=1; spark.x",  # second pair malformed
    ],
)
def test_malformed_conf_pairs_raise(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CONF", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CONF"):
        sess.get_spark("conf-test")


def test_wellformed_pairs_accepted(monkeypatch, spark):
    # valid pairs reach getOrCreate without raising; with a session
    # already live this returns the existing one — the point is only
    # that validation lets well-formed input through.
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF",
        "spark.graft.test.flag=1; spark.graft.test.other=x",
    )
    s = sess.get_spark("conf-test-ok")
    assert s is not None


def test_sessions_run_with_ansi_on(spark):
    # Catalog long arithmetic (attribute_assortativity_nation's m2 * m2)
    # relies on ANSI mode: an overflowing BIGINT product must raise, as
    # it does on the DuckDB oracle, instead of wrapping silently.
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    big = F.col("id") + 4_000_000_000
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spark.range(1).select((big * big).alias("p")).collect()
