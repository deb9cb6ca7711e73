"""get_spark on a process that already has an active session."""

from __future__ import annotations

import pytest

from udlang_spark.session import get_spark


def test_active_session_refuses_differing_static_conf(spark):
    """A static value the shared session cannot take raises and names the
    key; the session's own value, or a runtime key, returns the session."""
    own = spark.conf.get("spark.driver.memory")
    other = "1g" if own != "1g" else "2g"
    with pytest.raises(ValueError, match="spark.driver.memory"):
        get_spark("udlang_spark_tests", **{"spark.driver.memory": other})
    with pytest.raises(ValueError, match="spark.sql.warehouse.dir"):
        get_spark("udlang_spark_tests", **{"spark.sql.warehouse.dir": "/nonexistent"})
    assert get_spark("another_app", **{"spark.driver.memory": own}) is spark
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        same = get_spark("udlang_spark_tests", **{"spark.sql.shuffle.partitions": "3"})
        assert same is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
