"""Parquet table sources for the driver's TPC-H-ish testdata.

The reference reads records from a unix pipe (udlang HACKING.md:127-140,
stdin/stdout only); file connectors are an engine extension (SURVEY.md §2.1).
Here the batch source is parquet via ``spark.read`` — filter pushdown and
column pruning reach the scan for free, which is the load-bearing property at
100 TB (verified via .explain: PushedFilters / ReadSchema).

A schema-less ``spark.read.parquet`` runs a Spark job that reads the file
footers to infer the schema, on every call — one job per table per query
construction. As Structured Streaming does for file sources, every read
here passes a known schema instead: Spark's own inferred ``StructType`` is
kept per table path, inferred once per (files, inference confs) — the
files' ``table_fingerprint`` plus the values of the confs that change what
parquet inference returns. Regenerated files or a flipped conf re-infer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# A parquet file is split at row-group granularity: the driver's testdata
# writes ONE row group per table, so every scan — and everything narrow
# above it — runs as a single task, even on local[32]. Measured tradeoff
# (sf0.1, steady-state): shuffle-bound queries (groupBy/join) do NOT benefit
# from pre-spreading the scan — their first key shuffle already
# parallelizes, and a blanket repartition of full rows costs more than the
# serial partial-agg it saves (q03: 0.9 s → 1.6 s WITH fan-out). Only
# CPU-heavy per-row operators (shingling, simhash, n-gram explodes) win big
# (d_simhash: 2.1 s → 0.8 s), so fan-out is an explicit opt-in at those
# call sites, never automatic at load. At real scale inputs have thousands
# of splits, the `partitions < target` gate is never true, and fan_out
# vanishes from the plan (the durable fix there is compaction at ingest).


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition a DataFrame whose lineage has fewer partitions than the
    cluster has cores — used by CPU-heavy per-row operators (shingling,
    fingerprinting) where even a small table is a lot of work. No-op when
    the input is already parallel enough (the 100 TB case)."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Confs whose values change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# table path -> (stamp, inferred schema); one entry per path, replaced when
# its stamp changes.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """spark.read.parquet with the schema Spark inferred for the same files
    under the same inference confs; infers (one footer-reading job) only
    on a first read or a changed stamp."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    stamp = (table_fingerprint(sf_dir, name),) + tuple(
        spark.conf.get(c) for c in _INFERENCE_CONFS
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name == "events":
        # events.ts has shipped as INT64 TIMESTAMP(NANOS) in some testdata
        # generations and TIMESTAMP(MICROS) in others; normalize both to
        # TimestampType so downstream epoch-second casts (ts.cast("long"))
        # resolve. Nanos: read as long (session-settable legacy conf) and
        # floor-truncate to µs (integer div — double division would round,
        # since ns epoch values exceed 2^53; DuckDB's ns→µs cast truncates
        # the same). Micros: parquet reads as TIMESTAMP_NTZ, which the UTC
        # session timezone makes value-identical under a plain cast.
        # CAVEAT: the conf is session-global and stays set (restoring it
        # after this lazy read would re-resolve the scan under the restored
        # value) — any OTHER table with INT64(NANOS) columns read after
        # events will also surface them as longs. None of this repo's
        # tables besides events carry nanos columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, sf_dir, name)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = _read_parquet(spark, sf_dir, name)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register all testdata tables as temp views for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def table_fingerprint(sf_dir: str, *names: str) -> str:
    """Content fingerprint of source tables for derived-artifact cache
    keys (streaming replay dirs, persisted ANN indexes, bucketed-table
    caches): path + size + mtime_ns of every underlying file. A cache
    keyed ONLY on sf_dir goes silently stale when the data under the
    same path is regenerated — the fingerprint makes regeneration a
    cache miss, so every derived artifact is rebuilt from the data it
    claims to represent."""
    import hashlib
    import os

    parts: list[str] = []
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            files = sorted(
                os.path.join(r, f)
                for r, _d, fs in os.walk(path)
                for f in fs
                if not f.startswith((".", "_"))
            )
        elif os.path.exists(path):
            files = [path]
        else:
            files = []
        for f in files:
            st = os.stat(f)
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# on-disk index artifacts (persisted ANN / near-dup indexes): one directory
# per build key under tempdir, completed by a marker file that holds the key
# ---------------------------------------------------------------------------
_BUILT = "_BUILT"


def artifact_path(prefix: str, key: str) -> str:
    """Directory of the artifact built for `key`: <tempdir>/<prefix>_<md5
    tag>. Keys fold in table_fingerprint plus every layout parameter, so
    regenerated source data or a layout change is a new directory, never a
    silently stale index."""
    import hashlib
    import tempfile

    tag = hashlib.md5(key.encode()).hexdigest()[:10]
    return f"{tempfile.gettempdir()}/{prefix}_{tag}"


def artifact_built(path: str) -> bool:
    """True when the build at `path` completed (its marker exists)."""
    return os.path.exists(os.path.join(path, _BUILT))


def ensure_artifact(prefix: str, key: str, build) -> str:
    """Build the artifact for `key` unless a completed build exists, and
    return its path. A miss first retires stale generations, then calls
    build(path), then writes the marker LAST — a crashed build leaves no
    marker, so it is rebuilt, never read."""
    path = artifact_path(prefix, key)
    if not artifact_built(path):
        gc_stale_artifacts(prefix, key, path)
        build(path)
        with open(os.path.join(path, _BUILT), "w") as fh:
            fh.write(key)
    return path


def gc_stale_artifacts(prefix: str, key: str, path: str) -> None:
    """Retire STALE GENERATIONS of the same logical artifact: sibling
    <prefix>_* dirs whose marker records the same identity but a different
    key — i.e. the build this one supersedes. Without this, every
    source-data regeneration strands a dead index dir in tempdir forever.
    Identity = the key minus its trailing 5 parameter fields (fingerprint
    plus four layout fields), which no sf_dir path can fake since the
    fingerprint is fixed-format hex. Unreadable/foreign dirs are left
    alone."""
    import glob
    import shutil
    import tempfile

    ident = key.rsplit("|", 5)[0]
    for sib in glob.glob(f"{tempfile.gettempdir()}/{prefix}_*"):
        if os.path.abspath(sib) == os.path.abspath(path):
            continue
        try:
            with open(os.path.join(sib, _BUILT)) as fh:
                sib_key = fh.read()
        except OSError:
            continue  # unfinished/foreign dir: not ours to judge
        if sib_key != key and sib_key.rsplit("|", 5)[0] == ident:
            shutil.rmtree(sib, ignore_errors=True)


def generation(path: str) -> int:
    """Build-GENERATION token for plan-cache keys: the marker's mtime_ns.
    A cached probe plan snapshots the index file listing at analysis
    time; an in-session rebuild at the SAME path (a forced rebuild, or a
    deleted marker re-triggering the build) rewrites those files, so the
    key must change with the build, not just the path. -1 (no marker yet)
    never collides with a real mtime."""
    try:
        return os.stat(os.path.join(path, _BUILT)).st_mtime_ns
    except OSError:
        return -1
