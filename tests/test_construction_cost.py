"""Construction-cost guards.

py4j commands: one cold construction of each query of the perfbench
`first_call` workload (the kernel compile cache, `plan_cache` and
`release_caches()` cleared first, the JVM warm) sends at most a bounded
number of py4j commands. Generated expressions reach the JVM as SQL text;
a regression to building them from `Column` calls costs a py4j command per
expression node and shows here as a count several times the bound.
The bounds are twice the counts measured when the expressions became SQL
text (4 cores, sf0.01). Py4j's memory-release commands (`m\\nd\\n…`, sent
when Python garbage-collects a JavaObject) are not counted: when they are
sent depends on the garbage collector, not on the construction.

Spark jobs: with its persisted index already built, one cold construction
of each IVF-PQ serving query launches only the jobs its query-panel
collect needs. Index metadata (centroids, codebook, the schema of the
code relation) is one driver-side file read: reading it through Spark
costs 9 more jobs per construction, which these bounds catch."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_CORRECTNESS as SF

# query -> commands measured for one cold construction, doubled
BOUNDS = {
    "k_filter": 2 * 110,
    "k_mapiter": 2 * 130,
    "k_match_lit": 2 * 173,
    "k_match_union": 2 * 324,
    "k_comprehension": 2 * 242,
    "k_cast": 2 * 152,
    "k_tower": 2 * 225,
    "k_generic": 2 * 142,
    "k_builtins": 2 * 152,
    "k_modules": 2 * 93,
    "k_methods": 2 * 115,
    "k_pipeline": 2 * 178,
    "k_spread": 2 * 94,
    "k_attempt": 2 * 94,
    "k_point": 2 * 219,
    "e_hamming_topk": 2 * 324,
}


def _clear_caches() -> None:
    from udlang_spark.kernel import api
    from udlang_spark.session import plan_cache, release_caches

    api._compile_kernel_cached.cache_clear()
    plan_cache.clear()
    release_caches()


@pytest.fixture(scope="module")
def counts(spark):
    from udlang_spark.queries import QUERIES

    for name in BOUNDS:  # warm the JVM side of every construction
        _clear_caches()
        QUERIES[name](spark, SF)
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = [0]

    def send_command(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return orig(command, *args, **kwargs)

    out = {}
    client.send_command = send_command
    try:
        for name in BOUNDS:
            _clear_caches()
            sent[0] = 0
            QUERIES[name](spark, SF)
            out[name] = sent[0]
    finally:
        client.send_command = orig
    return out


@pytest.mark.parametrize("name", list(BOUNDS))
def test_cold_construction_py4j_commands(counts, name):
    assert counts[name] <= BOUNDS[name], (name, counts[name], BOUNDS[name])


# query -> Spark jobs of one cold construction with the index built, as
# measured (4 cores, sf0.01)
JOB_BOUNDS = {
    "e_ivfpq_ann": 2,
    "e_ivfpq_append": 2,
    "e_ivfpq_recall": 3,
    "e_ivfpq_append_recall": 3,
    "t_retrieval_pipeline": 2,
}


@pytest.fixture(scope="module")
def jobs(spark):
    from udlang_spark.queries import QUERIES

    sc = spark.sparkContext
    out = {}
    for name in JOB_BOUNDS:
        QUERIES[name](spark, SF)  # builds the index on a miss
        _clear_caches()
        group = f"construct_{name}"
        sc.setJobGroup(group, name)
        try:
            QUERIES[name](spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    _clear_caches()
    return out


@pytest.mark.parametrize("name", list(JOB_BOUNDS))
def test_cold_construction_spark_jobs(jobs, name):
    assert jobs[name] <= JOB_BOUNDS[name], (name, jobs[name], JOB_BOUNDS[name])
