"""`plan_cache.memo`: a hit re-persists exactly what the cold build persisted.

The unit tests run on `spark.range` frames; the parametrized test runs every
plan-cached serving query (bench.PLAN_CACHED) and compares the relations a
cold build registers in `session._PERSISTED` with those a hit registers
after `release_caches()`.
"""

from __future__ import annotations

import pytest

from bench import PLAN_CACHED
from tests.conftest import SF_DIR_CORRECTNESS
from udlang_spark import session as S
from udlang_spark.queries import QUERIES


def _tracked() -> set[int]:
    return {id(df) for df in S._PERSISTED}


@pytest.mark.parametrize("name", PLAN_CACHED)
def test_hit_rearms_what_cold_build_persisted(spark, name):
    QUERIES[name](spark, SF_DIR_CORRECTNESS)  # any persisted index is built
    S.plan_cache.clear()
    S.release_caches()
    QUERIES[name](spark, SF_DIR_CORRECTNESS)
    cold = _tracked()
    S.release_caches()
    QUERIES[name](spark, SF_DIR_CORRECTNESS)
    assert _tracked() == cold
    S.release_caches()


def test_memo_nested_hit_lands_in_outer_entry(spark):
    S.plan_cache.clear()
    S.release_caches()
    inner_df = spark.range(3)

    def inner():
        return S.plan_cache.memo(
            spark, ("t_inner",), lambda: S.persist_tracked(inner_df)
        )

    assert inner() is inner_df  # inner entry exists: the next call hits
    outer_df = spark.range(5)

    def outer():
        inner()
        return S.persist_tracked(outer_df)

    assert S.plan_cache.memo(spark, ("t_outer",), outer) is outer_df
    # inner_df was already tracked in this window: still recorded
    res, persisted = S.plan_cache.get(spark, ("t_outer",))
    assert res is outer_df
    assert {id(d) for d in persisted} == {id(inner_df), id(outer_df)}
    S.release_caches()
    assert S.plan_cache.memo(spark, ("t_outer",), outer) is outer_df
    assert _tracked() == {id(inner_df), id(outer_df)}
    S.plan_cache.clear()
    S.release_caches()


def test_memo_failed_build_caches_nothing(spark):
    S.plan_cache.clear()
    S.release_caches()
    df = spark.range(4)

    def build():
        S.persist_tracked(df)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        S.plan_cache.memo(spark, ("t_fail",), build)
    assert S.plan_cache.get(spark, ("t_fail",)) is None
    assert S._RECORDING == []
    S.release_caches()


def test_persist_tracked_outside_memo_records_nothing(spark):
    S.plan_cache.clear()
    S.release_caches()
    a, b = spark.range(2), spark.range(6)
    assert S.plan_cache.memo(spark, ("t_a",), lambda: S.persist_tracked(a)) is a
    S.persist_tracked(b)  # after the build: no entry may take it
    _, persisted = S.plan_cache.get(spark, ("t_a",))
    assert [id(d) for d in persisted] == [id(a)]
    S.release_caches()
    S.plan_cache.memo(spark, ("t_a",), lambda: None)
    assert _tracked() == {id(a)}
    S.plan_cache.clear()
    S.release_caches()
