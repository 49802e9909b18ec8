"""session.scoped_conf: a session-conf toggle that always restores."""

import pytest

from spatula_spark.session import scoped_conf


def test_scoped_conf_restores_after_exception(spark):
    key = "spark.sql.shuffle.partitions"
    unset = "spark.spatula.test.scoped_conf_unset"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {key: "3", unset: "x"}):
            assert spark.conf.get(key) == "3"
            assert spark.conf.get(unset) == "x"
            raise RuntimeError("inside the block")
    assert spark.conf.get(key) == before
    # a key that was unset before the block is unset again after it
    assert spark.conf.get(unset, None) is None
