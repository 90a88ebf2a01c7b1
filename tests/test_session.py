"""session.scoped_conf: the one way package code changes session conf."""

from __future__ import annotations

import pytest

from spark_ml_optimization_spark.session import scoped_conf

_KEY = "spark.sql.shuffle.partitions"
_UNSET_KEY = "spark.sql.test.scopedConf.probe"


def test_restores_the_previous_value(spark):
    before = spark.conf.get(_KEY)
    with scoped_conf(spark, {_KEY: "3"}):
        assert spark.conf.get(_KEY) == "3"
    assert spark.conf.get(_KEY) == before


def test_unsets_a_key_that_had_no_value(spark):
    assert spark.conf.get(_UNSET_KEY, None) is None
    with scoped_conf(spark, {_UNSET_KEY: "on"}):
        assert spark.conf.get(_UNSET_KEY) == "on"
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_restores_when_the_body_raises(spark):
    before = spark.conf.get(_KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {_KEY: "5", _UNSET_KEY: "on"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(_KEY) == before
    assert spark.conf.get(_UNSET_KEY, None) is None
