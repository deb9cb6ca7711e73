"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configuration
keys are the ones that matter on a 1000-executor cluster — AQE (runtime
re-planning, skew-join splitting, partition coalescing), a shuffle-partition
count sized to the data, and Arrow for any Python-side exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# the directory that holds the udlang_spark package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "udlang_spark", **extra_conf: str) -> SparkSession:
    """Build (or return the active) SparkSession.

    Scale notes: on a real cluster, ``spark.sql.shuffle.partitions`` should be
    ~2-3x total cores (or left to AQE coalescing with a high initial value);
    locally we match core count. AQE is always on: it converts sort-merge
    joins to broadcast at runtime when a side turns out small, splits skewed
    shuffle partitions, and coalesces tiny ones — all critical at 100 TB.

    Python workers get the package's root directory ahead of any
    ``PYTHONPATH`` already set, so a script started from any directory can
    run Python UDFs that import ``udlang_spark``.

    With a session already active, ``extra_conf`` runtime keys are set on
    that shared session: the caller sees them, and so does every other
    holder of it (the checkpoint-manager override test in
    tests/test_streaming.py relies on this). A static key whose value
    differs from the session's cannot be applied and raises
    ``ValueError``; the app name is not checked. Static means
    ``spark.conf.isModifiable`` is false, except for a ``spark.sql.`` key
    that Spark does not register as static: such a key
    (``spark.sql.streaming.checkpointFileManagerClass``) is unregistered,
    so not "modifiable", yet a stream reads it from the session at start.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        sql_conf = active._jvm.org.apache.spark.sql.internal.SQLConf
        clash = sorted(
            k
            for k, v in extra_conf.items()
            if k != "spark.app.name"
            and not active.conf.isModifiable(k)
            and (not k.startswith("spark.sql.") or sql_conf.isStaticConfigKey(k))
            and active.conf.get(k, None) != str(v)
        )
        if clash:
            raise ValueError(
                f"static conf {clash} differs from the active session's; "
                "stop it before asking for these values"
            )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    python_path = [_ROOT] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Stream checkpoints (offset, commit and file-source logs, state-store
        # files) go through Hadoop FileSystem, not Spark's default FileContext
        # manager: in a traced perfbench warm_batch run on 4 cores the offset-
        # and commit-log writes took 20 ms per trigger here against 60.5 ms
        # under FileContext, the file-source log 21 against 41 ms. It is
        # paid per trigger, not per row. Assumption: the checkpoint lives on a
        # filesystem whose rename is atomic (local disk or HDFS; every query
        # and test here checkpoints under a local temp directory). The
        # manager's no-overwrite guard is check-then-rename, so one writer per
        # checkpoint is what keeps the log consistent. On an object store
        # neither manager gives atomic renames. Both write the same files, so
        # a checkpoint written under the old default restarts unchanged.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(python_path))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# ---------------------------------------------------------------------------
# persisted-DataFrame registry
#
# Several operators persist a reduced intermediate (shingle sets, SimHash
# fingerprints, BM25 per-doc stats) because two downstream passes need it.
# Spark's CacheManager holds those blocks until an explicit unpersist — in a
# long-lived driver session (an oracle sweep, a notebook, a service) that is
# a slow leak bounded only by LRU eviction. Operators register their persists
# here; sweep drivers call ``release_caches()`` between queries.
#
# The registry holds STRONG references on purpose: derived DataFrames keep
# no Python reference to their persisted parent, so the wrapper's refcount
# hits zero as soon as the operator returns — a weakref registry would be
# empty by the time release_caches() runs while the JVM-side cache entry
# (which is what leaks) lives on. The Python wrappers held here are a few
# hundred bytes each and are dropped at every release.
# ---------------------------------------------------------------------------

_PERSISTED: list = []
_PERSISTED_IDS: set[int] = set()
# one list per plan_cache.memo build in progress (see the recording rule)
_RECORDING: list[list] = []


# ---------------------------------------------------------------------------
# per-session analyzed-plan cache
#
# A serving query that returns the SAME DataFrame for the same (session,
# input fingerprint) keeps its exprIds stable, so re-executions hit the JVM
# codegen cache, and skips its driver construction. Entries are keyed on the
# SparkSession OBJECT (a WeakKeyDictionary): a newSession() sibling with
# other SQL confs never sees them, and a stopped session's entries go with
# it. At the cap the oldest entry alone is evicted (FIFO).
#
# The recording rule: while ``memo`` runs a build, every relation the build
# passes to ``persist_tracked`` is recorded with the result, whether or not it
# is already tracked in the current release window, and an enclosing build
# records it too. A hit passes each recorded relation to ``persist_tracked``
# again, so after a ``release_caches()`` the cached plan reads the same
# persisted relations as a cold build, not a recomputation from parquet.
# ---------------------------------------------------------------------------


class _PlanCache:
    # A bound on a pathological many-corpus session, not a working-set size:
    # one (session, corpus) working set holds 8 keys, and tests pin that it
    # fits without eviction.
    MAX_PER_SESSION = 24

    def __init__(self) -> None:
        import weakref

        self._per = weakref.WeakKeyDictionary()

    def get(self, spark, key):
        return self._per.get(spark, {}).get(key)

    def put(self, spark, key, entry) -> None:
        per = self._per.get(spark)
        if per is None:
            per = {}
            self._per[spark] = per
        if key not in per and len(per) >= self.MAX_PER_SESSION:
            per.pop(next(iter(per)))  # FIFO-evict the oldest entry only
        per[key] = entry

    def memo(self, spark, key, build):
        """``build()``'s result for (spark, key), built once per session.

        A miss runs ``build()`` and stores its result with the relations it
        persisted; a build that raises stores nothing. A hit re-persists
        those relations and returns the stored result."""
        hit = self.get(spark, key)
        if hit is not None:
            res, persisted = hit
            for df in persisted:
                persist_tracked(df)
            return res
        _RECORDING.append([])
        try:
            res = build()
        finally:
            persisted = _RECORDING.pop()
        self.put(spark, key, (res, persisted))
        return res

    def clear(self) -> None:
        self._per.clear()


plan_cache = _PlanCache()


def persist_tracked(df, storage_level=None):
    """persist() a DataFrame and register it for later release_caches().

    Idempotent per DataFrame OBJECT within one release window, so plan-cache
    hits in a session that never releases do not grow the registry. The
    id() key is safe because the registry holds a strong reference: the
    object cannot be collected (and its id reused) while tracked. Inside a
    ``plan_cache.memo`` build the relation is recorded either way."""
    for persisted in _RECORDING:
        persisted.append(df)
    if id(df) in _PERSISTED_IDS:
        return df  # already persisted and tracked in this window
    df.persist() if storage_level is None else df.persist(storage_level)
    _PERSISTED.append(df)
    _PERSISTED_IDS.add(id(df))
    return df


def release_caches() -> None:
    """Unpersist every tracked DataFrame (non-blocking)."""
    global _PERSISTED
    for df in _PERSISTED:
        try:
            df.unpersist(False)
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    _PERSISTED = []
    _PERSISTED_IDS.clear()
