"""Similarity search over embedding columns (array<float>).

- `cosine`: pure Column expression — zip_with + aggregate in double
  precision (deterministic left-to-right fold, so the DuckDB oracle
  reproduces it to within round-6).
- `cosine_topk`: brute-force k-NN via Arrow-batched numpy GEMM
  (mapInPandas): each input partition computes a block of A·Bᵀ against the
  broadcast neighbor matrix with BLAS — ~50× faster than per-pair Column
  folds. O(n²) work: the correctness baseline at small n, the exact
  verification layer at scale (where B must be a candidate subset).
- `lsh_ann_topk`: sign-random-projection LSH — deterministic integer
  hyperplanes derived from md5, exact fixed-point projections (sign bits
  identical under any accumulation order or engine), bucket by signature,
  compare only bucket-mates.
  The 100 TB path: one shuffle on the bucket key, per-bucket quadratic
  bounded by bucket size; recall tunable via n_planes/n_tables.

Float determinism note: numpy GEMM uses pairwise/SIMD summation while the
Column fold and DuckDB's list_dot_product are sequential — results agree to
~1e-14 relative, so every similarity this module emits is rounded to 6
decimals BEFORE ranking/thresholding, on both the Spark and oracle sides.
The GEMM form of that rule is written once, in round6_cosine; every GEMM
scorer and router here, in ann_index.py and in dedup.py calls it.

Performance notes (measured at sf0.1, 2000×64-d vectors, local[32]):
- Norms are computed ONCE per vector before the pair join; the naive
  cosine-per-pair does 3 folds per pair (dot + 2 norms) — 3× the work.
- An unrolled `element_at` sum is NOT faster than the HOF fold: the
  interpreted 400-node expression tree evaluates ~3× slower than the
  fold's tight loop. Keep folds for per-pair scoring, GEMM for all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from udlang_spark.functions.text import ALNUM_WORDS_SQL
from udlang_spark.sqltext import call, case, ident


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] in double, sequential left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Zero-norm-safe: a zero vector scores 0 against everything — the same
    convention as the GEMM paths' _safe_norms (norm 0 -> divisor 1, so the
    zero numerator wins); a raw divide crashes under ANSI mode the first
    time a corpus contains an all-zero embedding (caught by the degenerate
    data sweep, via semantic_dedup's join condition)."""
    nn = norm(a) * norm(b)
    return F.when(nn > 0, dot(a, b) / nn).otherwise(F.lit(0.0))


# Hard cap on rows allowed onto the driver/broadcast side of the exact
# GEMM scorers. 200k × 64-dim float64 ≈ 100 MB — comfortably broadcastable;
# anything bigger must come in as an explicit candidate subset (LSH/IVF
# buckets), so the "broadcast 100 TB" footgun is unrepresentable.
DEFAULT_BROADCAST_ROW_CAP = 200_000


def _guarded_to_pandas(sdf: DataFrame, cap: int, op: str, alternative: str):
    """Materialize the broadcast side under a hard row cap in ONE Spark job.

    limit(cap+1) bounds what can ever reach the driver (early-exits the scan
    — never a full materialization at scale); the length check afterwards
    refuses oversized inputs with the scalable alternatives named. A separate
    count() pre-check would cost a second job per call (measured +0.55 s on
    e_cosine_topk at sf0.1 in round 4)."""
    pdf = sdf.limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"{op}: broadcast side has more than {cap} rows; brute-force "
            f"GEMM against the full relation does not scale. Pass a "
            f"candidate subset (candidates=...), raise max_broadcast_rows "
            f"explicitly, or use {alternative}."
        )
    return pdf


def _safe_norms(mat):
    """Row L2 norms with zeros replaced by inf: a zero vector then scores
    cos 0.0 against everything instead of NaN — Spark sorts NaN ABOVE all
    doubles, so a single zero-norm row would otherwise rank its NaN pairs
    into every top-k ahead of real neighbors."""
    import numpy as np

    nrm = np.sqrt((mat * mat).sum(axis=1))
    nrm[nrm == 0] = np.inf
    return nrm


def round6_cosine(a, b=None, b_norm=None):
    """THE cosine rule of every GEMM scorer, router and dedup kernel in
    this package (and of their DuckDB oracles): float64 GEMM a·bᵀ, divided
    by the left row norms and then by the right ones (_safe_norms, so a
    zero-norm row scores 0.0, never NaN), rounded to 6 decimals before any
    ranking, argmax or threshold. `b=None` scores `a` against itself — the
    same array on both sides of the matmul, which numpy computes with its
    symmetric-product kernel (its low bits differ from a general GEMM, so
    a self-similarity caller must not pass a copy); `b_norm` is a
    precomputed _safe_norms(b), e.g. one broadcast beside `b`."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = a if b is None else np.asarray(b, dtype=np.float64)
    a_norm = _safe_norms(a)
    if b_norm is None:
        b_norm = a_norm if b is a else _safe_norms(b)
    cos = a @ b.T
    cos /= a_norm[:, None]
    cos /= b_norm[None, :]
    np.round(cos, 6, out=cos)
    return cos


def gemm_topk_pairs(q_ids, q_mat, b_ids, b_mat, k):
    """The parity-critical in-group scorer shared by ivf_ann_topk and the
    persisted-index probe (operators/ann_index.py): round6_cosine scores,
    self-pairs masked, per-query top-k by (cos desc, neighbor id asc).
    Exists exactly once, on the one cosine rule, so a tie-break or rounding
    change cannot silently break the probe==in-memory equality the pytests
    assert."""
    import numpy as np
    import pandas as pd

    cos = round6_cosine(q_mat, b_mat)
    cos[q_ids[:, None] == b_ids[None, :]] = -np.inf
    order = np.lexsort((b_ids[None, :].repeat(len(q_ids), 0), -cos), axis=1)
    m = min(k, cos.shape[1])
    top = order[:, :m]
    out = pd.DataFrame(
        {
            "vec_id": np.repeat(q_ids, m),
            "nbr": b_ids[top].ravel(),
            "cos_sim": np.take_along_axis(cos, top, 1).ravel(),
        }
    )
    return out[out["cos_sim"] != -np.inf]


def first_rows_matrix(sdf: DataFrame, n: int, id_col: str = "id"):
    """The first `n` rows of `sdf` by `id_col` as an id-ordered float64
    matrix of their `vec` column — the deterministic seed-centroid
    convention of ivf_ann_topk, kmeans_assign and the persisted IVF index
    (one collect, bounded by n, never by the relation). None when `sdf` is
    empty."""
    import numpy as np

    pdf = sdf.orderBy(id_col).limit(n).toPandas().sort_values(id_col)
    if len(pdf) == 0:
        return None
    return np.stack(pdf["vec"].to_numpy()).astype(np.float64)


def _topk_schema(id_type) -> StructType:
    return StructType(
        [
            StructField("vec_id", id_type, True),
            StructField("nbr", id_type, True),
            StructField("cos_sim", DoubleType(), True),
            StructField("rnk", IntegerType(), False),
        ]
    )


def _assign_schema(id_type, centroid_type=None) -> StructType:
    """(vec_id, centroid, cos_sim) — the assignment result shape, used by
    the empty-relation short-circuits (np.stack cannot stack zero rows)."""
    return StructType(
        [
            StructField("vec_id", id_type, True),
            StructField("centroid", centroid_type or id_type, True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    candidates: DataFrame | None = None,
    max_broadcast_rows: int = DEFAULT_BROADCAST_ROW_CAP,
) -> DataFrame:
    """Brute-force cosine top-k neighbors per vector via blockwise GEMM.

    Ranking is deterministic: cosine rounded to 6 decimals, ties broken by
    ascending neighbor id (row_number semantics).

    Scale shape: the neighbor matrix is a Spark broadcast (ids, vectors,
    norms); each Arrow batch of the left side does one float64 matmul. At
    100 TB the broadcast side must be a candidate subset — pass
    ``candidates`` (e.g. an LSH/IVF bucket) or use lsh_ann_topk /
    ivf_ann_topk; a row-count guard (``max_broadcast_rows``) refuses to
    materialize an over-sized neighbor matrix on the driver.
    """
    import numpy as np

    b_src = candidates if candidates is not None else df
    b_sdf = b_src.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    self_contained = candidates is None  # plain bool: closures must not
    # capture the DataFrame itself (unpicklable on workers)
    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pdf = _guarded_to_pandas(
        b_sdf, max_broadcast_rows, "cosine_topk", "lsh_ann_topk/ivf_ann_topk"
    )
    id_type_ = sdf.schema["id"].dataType
    if len(pdf) == 0:  # empty neighbor side → no pairs (np.stack would raise)
        return df.sparkSession.createDataFrame([], _topk_schema(id_type_))
    b_ids = pdf["id"].to_numpy()
    b_mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    b_norm = _safe_norms(b_mat)
    bc = df.sparkSession.sparkContext.broadcast((b_ids, b_mat, b_norm))

    def score(batches):
        b_ids_, b_mat_, b_norm_ = bc.value
        import pandas as pd

        for pb in batches:
            if len(pb) == 0:
                continue
            a_ids = pb["id"].to_numpy()
            cos = round6_cosine(np.stack(pb["vec"].to_numpy()), b_mat_, b_norm_)
            # mask self-pairs, then top-k by (cos desc, nbr asc)
            self_mask = a_ids[:, None] == b_ids_[None, :]
            cos[self_mask] = -np.inf
            order = np.lexsort((b_ids_[None, :].repeat(len(a_ids), 0), -cos), axis=1)
            top = order[:, :k]
            n = len(a_ids)
            # with candidates=None every query is its own (masked) candidate,
            # so at most len-1 real neighbors exist; -inf rows are filtered
            # downstream either way
            out_rows = min(k, len(b_ids_) - 1) if self_contained else min(
                k, len(b_ids_)
            )
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(a_ids, out_rows),
                    "nbr": b_ids_[top[:, :out_rows]].ravel(),
                    "cos_sim": np.take_along_axis(cos, top[:, :out_rows], 1).ravel(),
                    "rnk": np.tile(np.arange(1, out_rows + 1, dtype=np.int32), n),
                }
            )

    id_type = sdf.schema["id"].dataType
    return sdf.mapInPandas(score, _topk_schema(id_type)).filter(
        F.col("cos_sim") != float("-inf")
    )


def centroid_assign(
    df: DataFrame, vec_col: str, id_col: str, centroid_ids: tuple[int, ...]
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (the assignment
    step of k-means / coarse quantization). Centroids are the rows of `df`
    whose id is in `centroid_ids` — a deterministic seed set, so the result
    is oracle-checkable.

    Scale shape: centroids are tiny (k rows) and broadcast; each Arrow batch
    of the input does one float64 GEMM against the centroid matrix, so the
    plan is a single narrow mapInPandas over the input — no shuffle at all.
    This is the same skeleton ivf_ann_topk uses for its coarse quantizer.

    Determinism: cosine rounded to 6 decimals; ties broken by ascending
    centroid id (argmax over (cos, -cid) lexicographic order).
    """
    import numpy as np

    sdf = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    cent = sdf.filter(F.col("vec_id").isin(*centroid_ids)).toPandas()
    cent = cent.sort_values("vec_id")
    if len(cent) == 0:  # empty relation / no seed rows: empty assignment
        return df.sparkSession.createDataFrame(
            [], _assign_schema(sdf.schema["vec_id"].dataType)
        )
    c_ids = cent["vec_id"].to_numpy()
    c_mat = np.stack(cent["vec"].to_numpy()).astype(np.float64)
    c_norm = _safe_norms(c_mat)
    bc = df.sparkSession.sparkContext.broadcast((c_ids, c_mat, c_norm))

    def assign(batches):
        import pandas as pd

        c_ids_, c_mat_, c_norm_ = bc.value
        for pb in batches:
            if len(pb) == 0:
                continue
            a_ids = pb["vec_id"].to_numpy()
            cos = round6_cosine(np.stack(pb["vec"].to_numpy()), c_mat_, c_norm_)
            # argmax by (cos desc, centroid id asc): c_ids_ is sorted, and
            # np.argmax takes the FIRST maximal column — exactly min-id.
            best = np.argmax(cos, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": a_ids,
                    "centroid": c_ids_[best],
                    "cos_sim": np.take_along_axis(cos, best[:, None], 1).ravel(),
                }
            )

    id_type = sdf.schema["vec_id"].dataType
    out_schema = StructType(
        [
            StructField("vec_id", id_type, True),
            StructField("centroid", id_type, True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    return sdf.mapInPandas(assign, out_schema)


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    n_iter: int = 3,
    scale: float = 1e6,
) -> DataFrame:
    """Deterministic mini k-means: `n_iter` rounds of (cosine assignment →
    exact centroid update), seeded with the first k vectors by id. Returns
    the final assignment (vec_id, centroid 0..k-1, cos_sim).

    Iterative-algorithm shape on Spark: the DRIVER loops; each round is one
    distributed pass — a broadcast-GEMM assignment (mapInPandas, no
    shuffle) plus one keyed aggregate for the update. Only the k×dim
    centroid matrix ever reaches the driver; the data never does. At 100 TB
    this is exactly Spark MLlib's k-means loop shape (their init is random;
    ours is fixed for reproducibility).

    Determinism: assignments use round-6 cosine with min-index tie-break;
    centroid updates are fixed-point (round(x·scale) int64 sums — exact
    under any partitioning), divided back in IEEE double on the driver.
    """
    import numpy as np

    from udlang_spark.session import persist_tracked

    if n_iter < 1:
        raise ValueError("kmeans_assign needs n_iter >= 1")
    # persist the (id, vec) projection ONCE: every iteration scans it twice
    # (the GEMM input and the update join) and the returned assignment scans
    # it again — without the cache each of those re-reads parquet (VERDICT
    # r8 #1a: e_semdedup's corpus GEMM ran ~3x).
    sdf = persist_tracked(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    )
    c_mat = first_rows_matrix(sdf, k, "vec_id")
    if c_mat is None:  # empty relation: empty assignment, no driver GEMM
        return df.sparkSession.createDataFrame(
            [], _assign_schema(sdf.schema["vec_id"].dataType, LongType())
        )
    # the seed may have < k rows on tiny relations — the id range must match
    # the actual centroid matrix or the assignment would reference ghost cells
    c_ids = np.arange(len(c_mat))

    def make_assign(bc, with_vec: bool):
        def assign(batches):
            import pandas as pd

            c_ids_, c_mat_, c_norm_ = bc.value
            for pb in batches:
                if len(pb) == 0:
                    continue
                cos = round6_cosine(np.stack(pb["vec"].to_numpy()), c_mat_, c_norm_)
                best = np.argmax(cos, axis=1)  # first max = min centroid idx
                out = {
                    "vec_id": pb["vec_id"].to_numpy(),
                    "centroid": c_ids_[best].astype(np.int64),
                    "cos_sim": np.take_along_axis(cos, best[:, None], 1).ravel(),
                }
                if with_vec:
                    # update iterations carry the vector THROUGH the GEMM so
                    # the centroid update needs no corpus-size vec_id join —
                    # mapInPandas output feeds the explode + partial agg on
                    # the same executor; only k×dim partials ever shuffle
                    out["vec"] = pb["vec"]
                yield pd.DataFrame(out)

        return assign

    sc = df.sparkSession.sparkContext
    dim = c_mat.shape[1]
    # derive the id type (like cosine_topk/centroid_assign) — a hardcoded
    # long would fail Arrow conversion for string/other id columns
    out_schema = StructType(
        [
            StructField("vec_id", sdf.schema["vec_id"].dataType, True),
            StructField("centroid", LongType(), True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    vec_schema = StructType(
        list(out_schema.fields) + [StructField("vec", sdf.schema["vec"].dataType)]
    )
    for it in range(n_iter):
        c_norm = _safe_norms(c_mat)
        bc = sc.broadcast((c_ids, c_mat, c_norm))
        if it + 1 == n_iter:
            break  # the final assignment below runs against the updated c_mat
        # exact fixed-point update (see e_label_centroids): int64 sums per
        # dimension survive any partitioning; k×dim result → driver.
        # posexplode + (centroid, d) agg keeps the aggregate at two tiny
        # expressions inside whole-stage codegen — the previous shape (dim
        # separate per-dimension sum expressions on the un-exploded rows)
        # is the one e_label_centroids measured 3× slower: expression
        # count, not row count, was the bottleneck. The GEMM output carries
        # `vec` (r9): the update previously re-joined the corpus on vec_id —
        # a full-size shuffle per iteration; now the per-iteration shuffle
        # is only the k×dim×partitions partial sums.
        joined = sdf.mapInPandas(make_assign(bc, with_vec=True), vec_schema)
        per_dim = (
            joined.select("centroid", F.posexplode("vec").alias("d", "x"))
            .groupBy("centroid", "d")
            .agg(
                F.sum(
                    F.round(F.col("x").cast("double") * scale).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .toPandas()
        )
        new_mat = c_mat.copy()  # empty clusters keep their centroid
        for cid, grp in per_dim.groupby("centroid"):
            grp = grp.sort_values("d")
            new_mat[int(cid)] = (
                grp["s"].to_numpy().astype(np.float64)
                / scale
                / int(grp["n"].iloc[0])
            )
        c_mat = new_mat
    # the FINAL assignment is what callers fan out over (semantic_dedup
    # derives three relations from it) — persist so the last GEMM executes
    # once into cache instead of once per downstream reference. It runs
    # against the centroids ENTERING the last iteration (n_iter-1 updates),
    # exactly like the pre-r9 loop, whose n-th centroid update was computed
    # and thrown away.
    return persist_tracked(sdf.mapInPandas(make_assign(bc, with_vec=False), out_schema))


def _plane_matrix(n_planes: int, n_dims: int, table: int):
    """(n_dims, n_planes) float64 hyperplane matrix with deterministic
    md5-derived INTEGER components in [-1e7, 1e7) — a pure function of
    (table, plane, dim), so every executor, retry, and engine derives
    identical planes. Integer components (the plane's scale is irrelevant
    to a sign test) make the projection of a 1e6-quantized vector an exact
    integer: |Σ x_fp·c| ≤ 64·1e6·1e7 < 2^53, so every partial sum is exact
    in float64 under ANY accumulation order — BLAS blocking, FMA, or a
    sequential SQL loop all produce the identical sign."""
    import hashlib

    import numpy as np

    vals = np.empty((n_dims, n_planes), dtype=np.float64)
    for p in range(n_planes):
        for d in range(n_dims):
            h = int.from_bytes(
                hashlib.md5(f"plane:{table * 1000 + p}:{d}".encode()).digest()[:8],
                "big",
            )
            vals[d, p] = float(h % 20_000_006 - 10_000_003)
    return vals


def lsh_bucket_rows(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int,
    n_dims: int,
    n_tables: int,
) -> DataFrame:
    """(id, vec, bucket) rows — one per (row, table) — for sign-random-
    projection LSH: each Arrow batch does ONE float64 GEMM against the
    broadcast-by-closure plane matrix and emits 't{t}:<bits>' bucket keys.

    The previous Column-expression form (per-plane zip_with+aggregate
    folds) ran every projection as an interpreted higher-order function —
    measured 7.1 s vs 0.35 s for this GEMM on 500 rows × 16 projections at
    sf0.01; expression interpretation, not data volume, was the cost."""
    import numpy as np

    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    planes = np.concatenate(
        [_plane_matrix(n_planes, n_dims, t) for t in range(n_tables)], axis=1
    )
    id_type = sdf.schema["id"].dataType
    vec_type = sdf.schema["vec"].dataType
    out_schema = StructType(
        [
            StructField("id", id_type, True),
            StructField("vec", vec_type, True),
            StructField("bucket", StringType(), True),
        ]
    )

    def bucketize(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            # quantize to 1e6 fixed-point: integer×integer projections are
            # exact in float64 (see _plane_matrix), so the sign bit is
            # bit-stable across BLAS variants, retries, and engines
            mat_fp = np.round(mat * 1e6)
            bits = (mat_fp @ planes) >= 0  # (n, n_tables*n_planes)
            parts = []
            for t in range(n_tables):
                seg = bits[:, t * n_planes : (t + 1) * n_planes]
                parts.append(
                    pd.DataFrame(
                        {
                            "id": pdf["id"].to_numpy(),
                            "vec": pdf["vec"].to_numpy(),
                            "bucket": [
                                f"t{t}:" + "".join("1" if b else "0" for b in row)
                                for row in seg
                            ],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    return sdf.mapInPandas(bucketize, out_schema)


def lsh_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 2,
    n_dims: int = 64,
) -> DataFrame:
    """Approximate top-k: vectors sharing an LSH bucket in ANY of n_tables
    signature tables are compared; ranking as in cosine_topk. Recall rises
    with n_tables, bucket size falls with n_planes.

    Shape: ONE shuffle of (id, vec) rows onto bucket keys (tiny — vectors
    ride once per table, not per pair); each bucket scores its members with
    a single in-group numpy GEMM (applyInPandas); only (vec_id, nbr,
    cos_sim) rows reach the cross-table dedup shuffle. In-bucket quadratic
    is bounded by bucket size — size n_planes to keep buckets near the
    Arrow batch sweet spot at the target scale."""
    import numpy as np
    import pandas as pd

    buckets = lsh_bucket_rows(df, vec_col, id_col, n_planes, n_dims, n_tables)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": [], "nbr": [], "cos_sim": []})
        ids = pdf["id"].to_numpy()
        cos = round6_cosine(np.stack(pdf["vec"].to_numpy()))
        # per-vector top-k WITHIN the bucket suffices: any global top-k
        # candidate shares a bucket with the vector and ranks ≤ k among
        # that bucket's members — pruning here cuts the dedup shuffle ~|B|/k
        cos[ids[:, None] == ids[None, :]] = -np.inf
        order = np.lexsort((ids[None, :].repeat(len(ids), 0), -cos), axis=1)
        m = min(k, len(ids) - 1)
        top = order[:, :m]
        keep_cos = np.take_along_axis(cos, top, 1).ravel()
        out = pd.DataFrame(
            {
                "vec_id": np.repeat(ids, m),
                "nbr": ids[top].ravel(),
                "cos_sim": keep_cos,
            }
        )
        return out[out["cos_sim"] != -np.inf]

    id_type = buckets.schema["id"].dataType
    pair_schema = StructType(
        [
            StructField("vec_id", id_type, True),
            StructField("nbr", id_type, True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    scored = (
        buckets.groupBy("bucket")
        .applyInPandas(score_bucket, pair_schema)
        .dropDuplicates(["vec_id", "nbr"])
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nbr"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ivf_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to their
    nearest coarse-quantizer cell; a query scores only the vectors in its
    n_probe nearest cells. Recall rises with n_probe (n_probe = n_cells ⇒
    exact); per-query work falls by ~n_cells/n_probe.

    Coarse quantizer: the first n_cells vectors in id order (deterministic
    seeding — a production build would run k-means/Lloyd here; the search
    machinery is identical). Only the n_cells×dim centroid matrix ever
    reaches the driver; the relation itself never does.

    Fully distributed shape (the 100 TB plan):
    1. one narrow mapInPandas routes every row — as an index member to its
       argmax-cosine cell, and as a query to each of its n_probe nearest
       cells — via a GEMM against the broadcast centroids (no shuffle);
    2. ONE shuffle groups rows by cell id; each cell scores its queries
       against its members with a single in-cell numpy GEMM
       (applyInPandas) and keeps only per-query top-k (cells are disjoint,
       so in-cell top-k loses no global top-k candidate);
    3. a per-query window merges the ≤ k·n_probe survivors into the final
       top-k. Data crosses the wire (1 + n_probe)× — never quadratically.
    """
    import numpy as np

    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # the ONLY driver-side collect: bounded by n_cells, not |df|
    cent = first_rows_matrix(sdf, n_cells)
    if cent is None:  # empty relation: empty top-k
        id_type = sdf.schema["id"].dataType
        return df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("vec_id", id_type, True),
                    StructField("nbr", id_type, True),
                    StructField("cos_sim", DoubleType(), True),
                    StructField("rnk", IntegerType(), True),
                ]
            ),
        )
    bc = df.sparkSession.sparkContext.broadcast((cent, _safe_norms(cent)))

    def route(batches):
        import pandas as pd

        for pb in batches:
            if len(pb) == 0:
                continue
            a_ids = pb["id"].to_numpy()
            # round-6 before ranking: routing must agree across engines
            # and BLAS variants; raw-float ordering is 1-ulp fragile
            qc = round6_cosine(np.stack(pb["vec"].to_numpy()), *bc.value)
            # index membership: first-max argmax (ties → lowest cell id);
            # probe set: stable argsort, so ties also break low
            member = np.argmax(qc, axis=1).astype(np.int32)
            probe = np.argsort(-qc, kind="stable", axis=1)[:, :n_probe]
            n = len(a_ids)
            vecs = pb["vec"].to_numpy()
            yield pd.DataFrame(
                {
                    "cell": np.concatenate([member, probe.ravel()]),
                    "role": np.repeat(
                        np.array([0, 1], dtype=np.int32), [n, n * n_probe]
                    ),
                    "id": np.concatenate([a_ids, np.repeat(a_ids, n_probe)]),
                    "vec": np.concatenate([vecs, np.repeat(vecs, n_probe)]),
                }
            )

    vec_type = sdf.schema["vec"].dataType
    id_type = sdf.schema["id"].dataType
    routed_schema = StructType(
        [
            StructField("cell", IntegerType(), False),
            StructField("role", IntegerType(), False),
            StructField("id", id_type, True),
            StructField("vec", vec_type, True),
        ]
    )
    routed = sdf.mapInPandas(route, routed_schema)

    def score_cell(pdf):
        import pandas as pd

        idx = pdf[pdf["role"] == 0]
        qs = pdf[pdf["role"] == 1]
        if len(idx) == 0 or len(qs) == 0:
            return pd.DataFrame({"vec_id": [], "nbr": [], "cos_sim": []})
        return gemm_topk_pairs(
            qs["id"].to_numpy(),
            np.stack(qs["vec"].to_numpy()).astype(np.float64),
            idx["id"].to_numpy(),
            np.stack(idx["vec"].to_numpy()).astype(np.float64),
            k,
        )

    pair_schema = StructType(
        [
            StructField("vec_id", id_type, True),
            StructField("nbr", id_type, True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    scored = routed.groupBy("cell").applyInPandas(score_cell, pair_schema)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nbr"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


def _sign_matrix(out_dim: int, n_dims: int) -> list[list[float]]:
    """(out_dim, n_dims) ±1 sign matrix with md5-derived entries — a pure
    function of (component, dim), so every executor, retry, and engine
    derives the identical matrix (the _plane_matrix convention)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"rproj:{j}:{d}".encode()).digest()[0] & 1 else -1.0
            for d in range(n_dims)
        ]
        for j in range(out_dim)
    ]


def random_project(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    out_dim: int = 16,
    n_dims: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2001,
    database-friendly ±1 variant): compress an n_dims embedding to out_dim
    components p_j = Σ_i sign(j,i)·v_i — the standard pre-ANN compression
    step (distances are preserved to (1±ε) w.h.p.; the conventional
    1/√out_dim scale factor is omitted as cosine ranking is
    scale-invariant).

    Scale shape: a row-local map stage — zero shuffles, the projection
    rides along any scan as one Arrow-batched BLAS matmul per batch
    (X·Sᵀ), with components rounded to 6 decimals (the module's
    cross-engine float convention; ±1·v_i partial sums agree with a
    sequential SQL fold well inside round-6). Measured at sf0.1 with a
    materializing sink: GEMM 0.24 s vs 0.44 s for out_dim Column HOF
    folds — the fold's per-element interpreted lambdas lose to BLAS as
    soon as the projection is actually computed (an earlier count()-based
    comparison said the opposite because Catalyst PRUNED the unused
    projection columns: measure what the sink consumes)."""
    import numpy as np

    S = np.array(_sign_matrix(out_dim, n_dims)).T  # (n_dims, out_dim)
    id_t = emb.schema[id_col].dataType.simpleString()
    sdf = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    schema = f"vec_id {id_t}, " + ", ".join(
        f"p{j} double" for j in range(out_dim)
    )

    def proj(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            P = np.round(X @ S, 6)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for j in range(out_dim):
                out[f"p{j}"] = P[:, j]
            yield pd.DataFrame(out)

    return sdf.mapInPandas(proj, schema)


def mmr_rerank(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: tuple[int, ...],
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
    1998): per query, greedily select k results maximizing
    lam·rel(c) − (1−lam)·max_{s∈selected} sim(c, s) — the standard
    redundancy-aware re-rank after a similarity search.

    Scale shape (one shuffle):
    1. relevance — the |Q| query vectors broadcast against the corpus;
       row-local Column cosine (round-6), linear in |Q|·n, rides the scan;
    2. candidate top-n per query — batch-local partial top-n (narrow Arrow
       mapInPandas): every global top-n row survives its batch's top-n, so
       only ≤ n_candidates·n_batches·|Q| rows ever shuffle — the corpus
       itself never shuffles onto the |Q| skew keys;
    3. greedy MMR per query group (applyInPandas) — O(k·n_candidates)
       in-group work on the exact top-n (re-derived post-shuffle).

    Determinism: rel and pairwise sims are rounded to 6 decimals before
    any comparison (np.round in-group, matching gemm_topk_pairs); scores
    are doubles derived from those rounded inputs with the literal
    constants lam and mu=1-lam (so an oracle can reproduce them
    bit-for-bit); every argmax tie-breaks by ascending id."""
    import pandas as pd

    mu = 1.0 - lam
    id_t = emb.schema[id_col].dataType.simpleString()
    vec_t = emb.schema[vec_col].dataType.simpleString()
    qdf = F.broadcast(
        emb.where(F.col(id_col).isin(*query_ids)).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    rel = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
        .join(qdf, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "_v",
            F.round(cosine(F.col("_v"), F.col("_qv")), 6).alias("rel"),
        )
    )

    mid_schema = f"query_id {id_t}, vec_id {id_t}, _v {vec_t}, rel double"

    def partial_topn(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "rel", "vec_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(n_candidates)
                )

    cand = rel.mapInPandas(partial_topn, mid_schema)

    def greedy(pdf):
        import numpy as np

        pdf = pdf.sort_values(
            ["rel", "vec_id"], ascending=[False, True]
        ).head(n_candidates)
        ids = pdf["vec_id"].to_numpy()
        rel_v = pdf["rel"].to_numpy(dtype=np.float64)
        S = round6_cosine(np.stack(pdf["_v"].to_numpy()))
        n = len(ids)
        # the first pick has no redundancy term (score = lam*rel - mu*0);
        # afterwards maxsim is the TRUE max sim over the selected set — it
        # can be negative, giving anti-correlated candidates a bonus, so it
        # must not be clamped at 0 by folding into a zeros-initialized max
        maxsim = np.zeros(n)
        avail = np.ones(n, dtype=bool)
        qid = pdf["query_id"].iloc[0]
        rows = []
        for r in range(1, min(k, n) + 1):
            best_i, best_key = -1, None
            for i in range(n):
                if not avail[i]:
                    continue
                key = (-(lam * rel_v[i] - mu * maxsim[i]), ids[i])
                if best_key is None or key < best_key:
                    best_key, best_i = key, i
            avail[best_i] = False
            rows.append(
                (qid, r, ids[best_i], lam * rel_v[best_i] - mu * maxsim[best_i])
            )
            if r == 1:
                maxsim = S[:, best_i].copy()
            else:
                np.maximum(maxsim, S[:, best_i], out=maxsim)
        return pd.DataFrame(
            rows, columns=["query_id", "rank", "vec_id", "mmr_score"]
        )

    out_schema = f"query_id {id_t}, rank int, vec_id {id_t}, mmr_score double"
    return cand.groupBy("query_id").applyInPandas(greedy, out_schema)


def _pq_subspace_dists(X, C, n_subspaces: int):
    """THE PQ distance rule, per subspace s in order: the round-6 squared
    L2 from each row of X to every codeword of C over that subspace's
    contiguous dims — an [n, K] float64 block. Encoding (argmin) and the
    ADC lookup tables both read it, so codes and tables cannot drift."""
    import numpy as np

    sub = C.shape[1] // n_subspaces
    for s in range(n_subspaces):
        Xs = X[:, s * sub : (s + 1) * sub]
        Cs = C[:, s * sub : (s + 1) * sub]
        d = ((Xs[:, None, :] - Cs[None, :, :]) ** 2).sum(-1)
        np.round(d, 6, out=d)
        yield d


def pq_code_block(X, C, n_subspaces: int, with_error: bool = False):
    """The PQ encode kernel shared by pq_encode and the IVF-PQ index
    writer (parity between the in-memory and persisted paths depends on
    one implementation): per subspace, argmin of _pq_subspace_dists with
    lowest-position tie-break. Returns
    (codes int32 [n, m], recon_err float64 [n] | None)."""
    import numpy as np

    codes = np.empty((len(X), n_subspaces), dtype=np.int32)
    recon = np.zeros(len(X)) if with_error else None
    for s, d in enumerate(_pq_subspace_dists(X, C, n_subspaces)):
        code = np.argmin(d, axis=1)  # first min = lowest position
        codes[:, s] = code
        if with_error:
            recon += np.take_along_axis(d, code[:, None], 1).ravel()
    return codes, recon


def pq_adc_lookup(spark, query_ids, Q, C, n_subspaces: int, id_type):
    """The ADC scoring pieces shared by pq_adc_topk and the IVF-PQ probe
    (one table convention): a broadcast (query_id, t0..t{m-1}) relation
    whose t{s} is query Q[i]'s _pq_subspace_dists row — round-6 literals,
    identical on both engines — and the Column that sums a code row's
    lookups in fixed subspace order (element_at over c{s} + 1)."""
    from functools import reduce

    dists = list(_pq_subspace_dists(Q, C, n_subspaces))
    rows = [
        tuple([qid] + [d[i].tolist() for d in dists])
        for i, qid in enumerate(query_ids)
    ]
    schema = f"query_id {id_type.simpleString()}, " + ", ".join(
        f"t{s} array<double>" for s in range(n_subspaces)
    )
    dist = reduce(
        lambda a, b: a + b,
        [
            F.element_at(F.col(f"t{s}"), F.col(f"c{s}") + 1)
            for s in range(n_subspaces)
        ],
    )
    return F.broadcast(spark.createDataFrame(rows, schema)), dist


def _collect_codebook(sdf: DataFrame, codebook_ids: tuple[int, ...]):
    """The id-sorted codebook rows as a pandas frame (bounded: |codebook|
    rows to the driver) — shared by pq_encode and pq_adc_topk so callers
    composing both pay the collection job once."""
    return (
        sdf.where(F.col("vec_id").isin(*codebook_ids))
        .toPandas()
        .sort_values("vec_id")
    )


def pq_encode(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    n_subspaces: int = 4,
    codebook_ids: tuple[int, ...] = tuple(range(16)),
    with_error: bool = True,
    _codebook=None,
) -> DataFrame:
    """Product quantization encode (Jégou et al. 2011): split each vector
    into n_subspaces contiguous subvectors and replace each with the
    POSITION (0..K-1) of its nearest codeword in the id-sorted codebook
    (squared L2, round-6 before argmin, lowest-position tie-break). Emits
    the per-subspace codes plus (with_error) the total reconstruction
    error — the compressed representation IVF-PQ indexes store instead of
    raw vectors (64 floats → 4 bytes here). Codes are positions, NOT the
    codebook rows' ids: consumers map back via the same id-sorted order.

    Codebooks are the subvectors of the rows with `codebook_ids` (the
    fixed-seed convention of centroid_assign/kmeans_assign — deterministic
    and oracle-reproducible; production would k-means each subspace).

    Scale shape: the K×dim codebook matrix is the only broadcast state;
    encoding is an Arrow-batched mapInPandas GEMM over the scan — zero
    shuffles, linear in corpus size, exactly the kmeans_assign shape."""
    import numpy as np

    sdf = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    seed = (
        _codebook
        if _codebook is not None
        else _collect_codebook(sdf, codebook_ids)
    )
    id_t = emb.schema[id_col].dataType
    out_fields = [StructField("vec_id", id_t, True)] + [
        StructField(f"c{s}", IntegerType(), True) for s in range(n_subspaces)
    ]
    if with_error:
        out_fields.append(StructField("recon_err", DoubleType(), True))
    if len(seed) == 0:
        return emb.sparkSession.createDataFrame([], StructType(out_fields))
    C = np.stack(seed["vec"].to_numpy()).astype(np.float64)
    bc = emb.sparkSession.sparkContext.broadcast(C)

    def enc(batches):
        import pandas as pd

        C_ = bc.value
        for pb in batches:
            if len(pb) == 0:
                continue
            X = np.stack(pb["vec"].to_numpy()).astype(np.float64)
            codes, recon = pq_code_block(X, C_, n_subspaces, with_error)
            out = {"vec_id": pb["vec_id"].to_numpy()}
            for s in range(n_subspaces):
                out[f"c{s}"] = codes[:, s]
            if with_error:
                out["recon_err"] = recon
            yield pd.DataFrame(out)

    return sdf.mapInPandas(enc, StructType(out_fields))


def pq_adc_topk(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: tuple[int, ...],
    k: int = 10,
    n_subspaces: int = 4,
    codebook_ids: tuple[int, ...] = tuple(range(16)),
) -> DataFrame:
    """Asymmetric distance computation over PQ codes (Jégou et al. 2011
    §III): each query precomputes a (n_subspaces × n_codewords) table of
    exact query-subvector→codeword distances; a compressed vector's
    distance is then the SUM OF TABLE LOOKUPS picked by its codes — how an
    IVF-PQ index scores billions of vectors without touching floats.

    Scale shape: encode is pq_encode's broadcast-GEMM map; the lookup
    tables are a |Q|-row broadcast dim; scoring is pure Column work
    (element_at + 3 adds), and the top-k is a TakeOrdered per query over
    ≤ |Q|·n rows — no corpus shuffle on data keys.

    Determinism: table entries are round-6 float64 (identical literals on
    both engines); a distance is a fixed-order sum of n_subspaces such
    doubles; ranking ties break by ascending id."""
    import numpy as np

    sdf = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    seed = _collect_codebook(sdf, codebook_ids)
    codes = pq_encode(
        emb,
        vec_col,
        id_col,
        n_subspaces=n_subspaces,
        codebook_ids=codebook_ids,
        with_error=False,  # ADC never reads recon_err — skip computing it
        _codebook=seed,  # one codebook collection job, not two
    )
    qpd = (
        sdf.where(F.col("vec_id").isin(*query_ids))
        .toPandas()
        .sort_values("vec_id")
    )
    out_schema = StructType(
        [
            StructField("query_id", emb.schema[id_col].dataType, True),
            StructField("vec_id", emb.schema[id_col].dataType, True),
            StructField("adc_dist", DoubleType(), True),
            StructField("rnk", IntegerType(), False),
        ]
    )
    if len(seed) == 0 or len(qpd) == 0:
        return emb.sparkSession.createDataFrame([], out_schema)
    tabs, dist = pq_adc_lookup(
        emb.sparkSession,
        qpd["vec_id"],
        np.stack(qpd["vec"].to_numpy()).astype(np.float64),
        np.stack(seed["vec"].to_numpy()).astype(np.float64),
        n_subspaces,
        emb.schema[id_col].dataType,
    )
    scored = (
        codes.join(tabs, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dist.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id", "vec_id", "adc_dist", F.col("rnk").cast("int").alias("rnk")
        )
    )


# ---------------------------------------------------------------------------
# Binarized embeddings + Hamming search: the cheapest ANN representation —
# one sign bit per dimension, packed into 32-bit words (64 floats → 8
# bytes: 32× smaller than even PQ codes, 128× smaller than float64).
# Hamming distance between sign signatures is a monotone proxy for angular
# distance (Charikar 2002 sign-LSH: P[bit differs] = angle/π), so a
# signature scan is the classic FIRST-PASS filter before exact or PQ
# re-scoring. Everything is integer codegen: xor + bit_count.
# ---------------------------------------------------------------------------
_SIGN_WORD_BITS = 32  # 32-bit words: bit j < 31 shifts never overflow a
# signed i64 on either engine (DuckDB range-checks 1<<63; Spark ANSI would
# range-check the additive form) — two words cover the 64-dim embeddings


def sign_signatures(
    emb: DataFrame, vec_col: str, id_col: str, dim: int = 64
) -> DataFrame:
    """(vec_id, sig array<long>): sign-bit signature of each vector, bit j
    of word w set iff v[w·32+j] >= 0 (zero counts as positive — an exact
    float comparison, identical on every engine). Zero shuffles, linear
    scan. The 64 packed terms reach the JVM as one SQL expression; a tree
    of Column calls costs one py4j round-trip per node."""
    v = ident(vec_col)
    words = []
    for w in range(0, dim, _SIGN_WORD_BITS):
        bits = [
            case(
                f"element_at({v}, {w + j + 1}) >= 0",
                f"shiftleft(CAST(1 AS BIGINT), {j})",
                "CAST(0 AS BIGINT)",
            )
            for j in range(min(_SIGN_WORD_BITS, dim - w))
        ]
        words.append(" | ".join(bits))
    return emb.select(
        F.col(id_col).alias("vec_id"), F.expr(call("array", *words)).alias("sig")
    )


def hamming_topk(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: tuple[int, ...],
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Top-k nearest by Hamming distance over sign signatures. Scale
    shape: the signature relation is |corpus| × 8 bytes; the |Q| query
    signatures broadcast; scoring is xor + bit_count per word (pure
    integer codegen — no floats touched per candidate); the only wide op
    is the per-query top-k window. For corpus-×-corpus near-dup joins use
    the banded form (operators/dedup.simhash_banded_near_pairs — same
    trick, bucket join instead of scan). Ties break by ascending id.

    Returns (query_id, vec_id, hamming, rnk)."""
    from udlang_spark.session import persist_tracked

    n_words = (dim + _SIGN_WORD_BITS - 1) // _SIGN_WORD_BITS
    # persisted: without the materialization CollapseProject pushes the
    # 64-term signature expression PAST the broadcast join and recomputes
    # it once per (row, query) pair (measured 2.5 s vs 1.2 s at sf0.1).
    # At scale the signature column is a STORED artifact anyway — that is
    # the point of binarization — and this cache models exactly that.
    sigs = persist_tracked(sign_signatures(emb, vec_col, id_col, dim))
    q = F.broadcast(
        sigs.where(F.col("vec_id").isin(*query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig")
        )
    )
    dist = " + ".join(
        f"bit_count(element_at(sig, {i}) ^ element_at(qsig, {i}))"
        for i in range(1, n_words + 1)
    )
    scored = sigs.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.expr(f"CAST({dist} AS INT)").alias("hamming")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# ---------------------------------------------------------------------------
# PCA over embeddings: the standard pre-compression step (center, rotate
# onto the top-k variance directions) before PQ/int8 quantization. The
# second-moment (Gram) accumulation is EXACT fixed-point integer
# arithmetic — floor(v·2^20) per element, int64 partial Gram per Arrow
# batch, integer sum-merge — so the 64×64 matrix that reaches the driver
# is a pure function of the data (any partitioning, any order), and a SQL
# oracle reproduces it cell for cell. Only the 64×64 eigensolve runs on
# the driver; projection streams back through a broadcast GEMM.
# ---------------------------------------------------------------------------
_PCA_SCALE_BITS = 20


def pca_gram(
    emb: DataFrame, vec_col: str, id_col: str, dim: int = 64
) -> DataFrame:
    """(i, j, gram, n) for i ≤ j: exact integer second moments
    Σ q_i·q_j with q = floor(v·2^20) (floor, not round — round's .5 ties
    disagree across engines; floor never does). One narrow mapInPandas
    pass emits a 2080-row partial Gram per batch; the only shuffle is the
    (i, j)-keyed integer sum over dim² keys. Overflow headroom: |q| ≲
    2^22 ⇒ products ≲ 2^44 ⇒ exact int64 up to ~2^19 rows per partial
    and exact at any corpus size after the long-sum merge (Spark raises
    on int64 overflow under ANSI instead of wrapping)."""
    import numpy as np

    scale = float(2**_PCA_SCALE_BITS)
    pairs = [(i, j) for i in range(dim) for j in range(i, dim)]

    def partial(batches):
        import pandas as pd

        for pb in batches:
            if len(pb) == 0:
                continue
            X = np.stack(pb[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * scale).astype(np.int64)
            G = Q.T @ Q  # exact: int64 matmul
            yield pd.DataFrame(
                {
                    "i": [i for i, _ in pairs],
                    "j": [j for _, j in pairs],
                    "g": [int(G[i, j]) for i, j in pairs],
                    "cnt": [len(pb)] * len(pairs),
                    "si": [int(Q[:, i].sum()) for i, _ in pairs],
                }
            )

    out_schema = "i int, j int, g long, cnt long, si long"
    parts = emb.select(vec_col).mapInPandas(partial, out_schema)
    return (
        parts.groupBy("i", "j")
        .agg(
            F.sum("g").alias("gram"),
            F.sum("cnt").alias("n"),
            F.sum("si").alias("sum_i"),
        )
    )


def pca_project(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, proj array<double>): center and rotate every vector onto the
    top-k principal components. The exact integer Gram relation collects
    to the driver (dim² ints — bounded by dimensionality, never data),
    the 64×64 eigensolve runs in numpy, and the component matrix
    broadcasts back for an Arrow-batched projection GEMM — zero shuffles
    beyond the Gram's (i,j) aggregation. Deterministic up to eigenvector
    SIGN, which is fixed by forcing each component's largest-magnitude
    coordinate positive."""
    import numpy as np

    scale = float(2**_PCA_SCALE_BITS)
    rows = pca_gram(emb, vec_col, id_col, dim).collect()
    n = rows[0]["n"] if rows else 0
    if n == 0:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, proj array<double>"
        )
    G = np.zeros((dim, dim))
    s = np.zeros(dim)
    for r in rows:
        G[r["i"], r["j"]] = G[r["j"], r["i"]] = r["gram"]
        if r["i"] == r["j"]:
            s[r["i"]] = r["sum_i"]
    mean_q = s / n
    cov = (G / n - np.outer(mean_q, mean_q)) / (scale * scale)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order]  # dim × k
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    comps = comps * flip[None, :]
    mean_v = mean_q / scale
    bc = emb.sparkSession.sparkContext.broadcast((comps, mean_v))

    def project(batches):
        import pandas as pd

        C, mu = bc.value
        for pb in batches:
            if len(pb) == 0:
                continue
            X = np.stack(pb[vec_col].to_numpy()).astype(np.float64) - mu
            P = X @ C
            yield pd.DataFrame(
                {id_col: pb[id_col].to_numpy(), "proj": list(P)}
            )

    sdf = emb.select(id_col, vec_col)
    return sdf.mapInPandas(project, f"{id_col} long, proj array<double>")


# ---------------------------------------------------------------------------
# late-interaction (MaxSim) scoring over deterministic md5-hash token
# embeddings: the query panel, the query-token vectors, the row-local (HOF)
# per-record maxima and the per-query top-k over a (doc_id, maxima)
# relation — shared by the batch MaxSim queries and their streaming twin.
# ---------------------------------------------------------------------------
MAXSIM_QUERIES = ("fast hash join", "window agg stream", "sort merge table scan")
MAXSIM_DIMS = 8
MAXSIM_TOPK = 10


def maxsim_qvec(tok: str) -> list[int]:
    """Query-token embedding, derived driver-side: same md5 integer family
    the engines compute for doc tokens (md5 is md5 — hashlib, Spark, and
    DuckDB agree byte-for-byte on 'msim:<tok>'). ONE digest per token:
    the 8 components are disjoint 16-bit hex windows of the single md5 —
    8× less hashing than a per-(token, dim) digest, and at 100 TB the
    hash is the scan's dominant CPU term."""
    import hashlib

    h = hashlib.md5(f"msim:{tok}".encode()).hexdigest()
    return [
        int(h[4 * d : 4 * d + 4], 16) % 2001 - 1000 for d in range(MAXSIM_DIMS)
    ]


def maxsim_terms():
    """(qi, j, query-token vector) triples plus the per-query score
    expressions over the max columns m{qi}_{j} (fixed-arity left-to-right
    sums — the association order both engines share)."""
    triples, score_exprs = [], []
    for qi, q in enumerate(MAXSIM_QUERIES):
        ts = q.split()
        for j, qt in enumerate(ts):
            triples.append((qi, j, maxsim_qvec(qt)))
        score_exprs.append(
            "(" + " + ".join(f"m{qi}_{j}" for j in range(len(ts))) + ")"
        )
    return triples, score_exprs


def maxsim_tvn_sql() -> str:
    """Row-local token-vector array: array_distinct tokens -> 8 md5
    integer components each, paired with the exact int64 self-dot."""
    comps = ", ".join(
        f"(CAST(conv(substring(h, {1 + 4 * d}, 4), 16, 10)"
        f" AS BIGINT) % 2001 - 1000)"
        for d in range(MAXSIM_DIMS)
    )
    vn = " + ".join(f"v[{d}] * v[{d}]" for d in range(MAXSIM_DIMS))
    return (
        f"transform(transform(transform(array_distinct({ALNUM_WORDS_SQL}), "
        f"t -> md5(concat('msim:', t))), h -> array({comps})), "
        f"v -> named_struct('v', v, 'n', {vn}))"
    )


def maxsim_hof_max_cols() -> list:
    """Row-local (HOF) MaxSim maxima — the STREAMING form: transform +
    array_max over the record's own token list is a pure per-record map,
    so scoring runs unchanged on a readStream with no state. The HOF
    lambdas are interpreted (not whole-stage codegen), ~2x the scan cost
    of the batch explode+groupBy shape at sf0.1 — the price of
    statelessness; batch t_maxsim_topk uses the codegen shape. Columns
    reference a bound `tvn` array column (projection-level subexpression
    elimination computes it once per row)."""
    cols = []
    for qi, j, qv in maxsim_terms()[0]:
        dot = " + ".join(f"x.v[{d}] * ({qv[d]})" for d in range(MAXSIM_DIMS))
        nqq = sum(c * c for c in qv)
        cols.append(
            F.expr(
                f"array_max(transform(tvn, x -> "
                f"CASE WHEN x.n > 0 THEN round(({dot}) / "
                f"(sqrt(x.n) * sqrt({nqq})), 6) ELSE 0.0 END))"
            ).alias(f"m{qi}_{j}")
        )
    return cols


def maxsim_topk_from_maxes(m: DataFrame) -> DataFrame:
    """Per-query top-k over the reduced (doc_id, maxima) relation —
    shared by the batch query and the streaming twin's drained read."""
    _, score_exprs = maxsim_terms()
    stack = ", ".join(f"{qi}, {se}" for qi, se in enumerate(score_exprs))
    s = m.selectExpr(
        "doc_id", f"stack({len(MAXSIM_QUERIES)}, {stack}) AS (qid, score)"
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= MAXSIM_TOPK)
        .select("qid", "doc_id", "score", "rnk")
    )
