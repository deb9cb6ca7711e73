"""Mergeable sketch formulas — count-min (frequencies), HyperLogLog
(distincts), KMV (distincts with set algebra) and fixed-bucket histogram
quantiles — defined ONCE and shared by the batch queries (`t_*`) and their
streaming twins (`s_*`).

Every sketch state is a pure function of md5 over the keys (or of exact
integer bucket counts), so partial states merge associatively — by SUM
(CMS, histograms), MAX (HLL registers) or union-then-truncate (KMV) — and a
drained stream's sketch equals the batch sketch under any micro-batching.
All constants that enter an estimate are precomputed here in Python, so the
DuckDB oracles inline the same literals and stay transcendental-free.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from udlang_spark.functions import text as TXT

# ---------------------------------------------------------------------------
# count-min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------
CMS_D = 4  # hash rows
CMS_W = 128  # buckets per row


def _cms_bucket(col, i: int, w: int = CMS_W):
    """One md5 per key, four independent 32-bit buckets from disjoint
    8-hex-char slices of the digest — 4× fewer hash evaluations than one
    md5 per row (the digest's 128 bits fund all four hash functions)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cms:"), col)), 1 + 8 * i, 8),
            16,
            10,
        ).cast("long")
        % w
    )


def cms_cells(rel: DataFrame, key_col: str, extra: tuple[str, ...] = ()):
    """(row, bucket) cell per hash row per input key — the sketch's
    pre-aggregation relation (works on batch AND streaming inputs)."""
    return rel.select(
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_bucket(F.col(key_col), i).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("rb"),
    ).select(*extra, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))


def cms_exact_witness(docs: DataFrame) -> DataFrame:
    """Exact (word, exact) counts of the stopword probes over a documents
    relation's `text` — the accuracy witness beside a drained sketch."""
    toks = docs.select(F.explode(TXT.words("text")).alias("tok"))
    return (
        toks.filter(F.col("tok").isin(*sorted(TXT.STOPWORDS)))
        .groupBy(F.col("tok").alias("word"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )


def cms_probe_report(
    spark: SparkSession, sketch: DataFrame, exact: DataFrame
) -> DataFrame:
    """Probe the (row, bucket, n) sketch with the stopword list: est = min
    over rows of the probed bucket counts, beside the exact counts."""
    probes = spark.createDataFrame(
        [(w,) for w in sorted(TXT.STOPWORDS)], "word string"
    )
    probe_cells = cms_cells(probes, "word", extra=("word",))
    est = (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )
    return (
        est.join(exact, "word", "left")
        .select(
            "word",
            "est",
            F.coalesce("exact", F.lit(0)).alias("exact"),
            (F.col("est") - F.coalesce("exact", F.lit(0))).alias("overest"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (Flajolet et al. 2007): m registers of one
# small int each; registers merge by MAX.
# ---------------------------------------------------------------------------
HLL_M = 64  # registers (p = 6 bucket bits from the first 2 md5 hex chars)
HLL_TAIL_BITS = 48  # rank domain: 12 md5 hex chars
# α_64 · m² · 2^48, precomputed in Python so BOTH engines see one float
# literal (α_64 = 0.709, Flajolet Fig. 3)
HLL_NUM = 0.709 * (HLL_M * HLL_M) * float(2**HLL_TAIL_BITS)
# linear-counting estimates m·ln(m/V) for every possible empty-register
# count V, PRECOMPUTED in Python and inlined as literals on both engines —
# the correction stays transcendental-free at query time (§9 bans runtime
# ln from oracle-checked outputs; a 64-entry literal table isn't runtime ln)
HLL_LC = [round(HLL_M * math.log(HLL_M / v), 4) for v in range(1, HLL_M + 1)]


def hll_bucket_rank(tok_col):
    """(bucket, rank) for one key: bucket = first 2 md5 hex chars mod m;
    rank = 1 + number of leading zero BITS in the 48-bit tail (hex chars
    3..14), capped at 48 — derived via hex-digit string ops (4·leading
    zero hex digits + a 15-way CASE on the first nonzero digit), NOT
    via log2: transcendental-free, so DuckDB reproduces every register
    exactly."""
    h = F.md5(F.concat(F.lit("hll:"), tok_col))
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % HLL_M).alias(
        "bucket"
    )
    tail = F.substring(h, 3, 12)
    lz = F.length(F.regexp_extract(tail, "^(0*)", 1))
    first = tail.substr(lz + 1, F.lit(1))
    digit_lz = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = F.least(lz * 4 + digit_lz + 1, F.lit(HLL_TAIL_BITS)).alias("rank")
    return bucket, rank


def hll_estimate(
    regs: DataFrame,
    group_cols: tuple[str, ...] = (),
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Registers (group_cols…, bucket, r) → one row per group with
    s_scaled (the exact integer harmonic sum scaled by 2^48),
    zero_registers and hll_est: the raw estimate HLL_NUM / s_scaled
    (rounded to 4), replaced by the HLL_LC linear count in the small
    range. `extra_aggs` (name → aggregate) ride the same per-group
    aggregate and are kept after the group columns."""
    extra = extra_aggs or {}
    agg = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_TAIL_BITS} - r)")
        ).alias("s_ne"),
        F.count(F.lit(1)).alias("nb"),
        *[a.alias(name) for name, a in extra.items()],
    )
    s = (
        F.col("s_ne")
        + (F.lit(HLL_M) - F.col("nb"))
        * F.shiftleft(F.lit(1).cast("long"), HLL_TAIL_BITS)
    ).alias("s_scaled")
    v = (F.lit(HLL_M) - F.col("nb")).cast("long")
    base = agg.select(*group_cols, *extra, s, v.alias("zero_registers"))
    raw = F.round(F.lit(HLL_NUM) / F.col("s_scaled").cast("double"), 4)
    lc = F.element_at(
        F.array(*[F.lit(x) for x in HLL_LC]),
        F.col("zero_registers").cast("int"),
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("zero_registers") > 0), lc
    ).otherwise(raw)
    return base.withColumn("hll_est", est)


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch + set algebra (Beyer et al. 2007,
# "On Synopses for Distinct-Value Estimation Under Multiset Operations"):
# two KMV sketches union by "k smallest of the merged hash sets", and the
# union sketch supports a Jaccard / intersection estimate that HLL cannot
# give. State is k 48-bit hashes per set — constant, partition-mergeable,
# redelivery-safe (pure function of the distinct keys).
# ---------------------------------------------------------------------------
KMV_K = 128
KMV_BITS = 48  # 12 md5 hex chars: < 2^53, so int→double stays exact-ish
# (k−1)·2^48 precomputed in Python so BOTH engines divide by one shared
# double literal (the same no-transcendentals discipline as HLL_NUM)
KMV_NUM = float((KMV_K - 1) * 2**KMV_BITS)


def kmv_hash_col(tok):
    """48-bit KMV hash of one token — shared by the batch sketch and the
    streaming min_k merge twin (queries/streaming.s_kmv_stream)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), tok)), 1, 12), 16, 10
    ).cast("long")


def kmv_hashes(docs: DataFrame, lang: str) -> DataFrame:
    """Distinct 48-bit token hashes for one language slice — the sketch's
    input domain. Distinct-by-hash (not by token) so the min-k boundary
    can never tie across engines."""
    return (
        docs.where(F.col("lang") == lang)
        .select(F.explode(TXT.words(F.col("text"))).alias("tok"))
        .select(kmv_hash_col(F.col("tok")).alias("h"))
        .distinct()
    )


def kmv_estimate(n: Column, hk: Column) -> Column:
    """Distinct estimate from a k-set of n hashes whose largest is hk:
    (k−1)·2^48 / h_k, or the exact count n when the set has < k hashes."""
    return F.round(
        F.when(n < KMV_K, n.cast("double")).otherwise(
            F.lit(KMV_NUM) / hk.cast("double")
        ),
        4,
    )


# ---------------------------------------------------------------------------
# Fixed-bucket histogram quantile sketch (quantiles by SUM of bucket
# counts). A t-digest/GK sketch would be merge-order-dependent; fixed
# buckets are a pure function of the data — deterministic under any
# partitioning, and the estimate is rational arithmetic over exact integer
# counts.
# ---------------------------------------------------------------------------
QSK_WIDTH = 1000  # price units per bucket (integer — keeps bucketing exact)
QSK_QUANTS = ((50, 100, "p50"), (90, 100, "p90"), (99, 100, "p99"))


def qsk_bucket() -> Column:
    """The histogram cell of one price: floor(l_extendedprice / QSK_WIDTH)."""
    return (
        F.floor(F.col("l_extendedprice").cast("double") / F.lit(float(QSK_WIDTH)))
        .cast("long")
        .alias("bucket")
    )


def _qsk_quants(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(name, num, den) for num, den, name in QSK_QUANTS],
        "q string, num long, den long",
    )


def qsk_estimate() -> Column:
    """Linear interpolation inside the covering bucket of a probe row
    (bucket, n, cum, target): lower + width·(target − cum_below)/n, a
    double division of exact integers, rounded to 4."""
    return F.round(
        F.col("bucket").cast("double") * QSK_WIDTH
        + F.lit(float(QSK_WIDTH))
        * (F.col("target") - (F.col("cum") - F.col("n"))).cast("double")
        / F.col("n").cast("double"),
        4,
    )


def quantile_probe_report(
    spark: SparkSession, hist: DataFrame, li: DataFrame, with_exact: bool = False
) -> DataFrame:
    """Shared probe over a (bucket, n) histogram — used by the batch
    sketch (queries/llm.t_quantile_sketch) and the streaming merged
    histogram (queries/streaming.s_quantile_stream), so both answer
    quantiles identically; `li` supplies the total. with_exact=True
    additionally computes the exact interpolated percentile and the
    estimate's error (pytest accuracy witness only — it is the full-sort
    the sketch replaces, so it stays out of the oracled headline
    queries)."""
    price = F.col("l_extendedprice").cast("double")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("n").over(w))
    # N = Σ bucket counts — a second count(*) scan of the source would
    # double the heavy I/O (r7; `li` now funds only the optional witness)
    total = hist.agg(F.sum("n").alias("n_total"))
    # target = ceil(N·num/den), exactly: (N·num + den − 1) div den
    targets = _qsk_quants(spark).crossJoin(F.broadcast(total)).select(
        "q",
        F.expr("(n_total * num + den - 1) div den").alias("target"),
        "n_total",
    )
    probe = cum.join(
        F.broadcast(targets),
        (F.col("cum") >= F.col("target"))
        & (F.col("cum") - F.col("n") < F.col("target")),
    )
    report = probe.select("q", qsk_estimate().alias("est"), "n_total")
    if not with_exact:
        return report
    # ONE array-argument percentile call: three separate F.percentile aggs
    # each build their own value map (measured 4.8 s vs 2.3 s at sf0.1)
    exact = li.agg(
        F.percentile(price, [num / den for num, den, _ in QSK_QUANTS]).alias(
            "ps"
        )
    ).select(
        *[
            F.round(F.element_at("ps", i + 1), 4).alias(f"x_{name}")
            for i, (_n, _d, name) in enumerate(QSK_QUANTS)
        ]
    )
    wide = report.crossJoin(F.broadcast(exact))
    pick = F.when(F.col("q") == "p50", F.col("x_p50")).when(
        F.col("q") == "p90", F.col("x_p90")
    ).otherwise(F.col("x_p99"))
    return wide.select(
        "q",
        "est",
        pick.alias("exact"),
        F.round(F.col("est") - pick, 4).alias("err"),
        "n_total",
    )


def group_quantile_report(spark: SparkSession, hist: DataFrame) -> DataFrame:
    """The same probe over a per-group (grp, bucket, n) histogram: the
    cumulative window and the targets are partitioned by group, totals
    derive from the histogram (Σ bucket counts per group)."""
    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("cum", F.sum("n").over(w))
    totals = hist.groupBy("grp").agg(F.sum("n").alias("n_total"))
    targets = totals.crossJoin(F.broadcast(_qsk_quants(spark))).select(
        "grp",
        "q",
        F.expr("(n_total * num + den - 1) div den").alias("target"),
        "n_total",
    )
    probe = cum.join(
        F.broadcast(targets),
        (cum["grp"] == targets["grp"])
        & (F.col("cum") >= F.col("target"))
        & (F.col("cum") - F.col("n") < F.col("target")),
    ).drop(targets["grp"])
    return probe.select("grp", "q", qsk_estimate().alias("est"), "n_total")
