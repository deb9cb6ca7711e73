"""Persisted IVF index: the serving-path counterpart of
``similarity.ivf_ann_topk`` (which builds its inverted file per call).

Layout on disk::

    <path>/cell=<c>/*.parquet -- members, partitioned by coarse cell
    <path>/_sidecar.npz       -- the n_cells x dim coarse quantizer and the
                                 schema of the member relation

The underscore file is invisible to Spark's partition discovery, so
``spark.read.schema(<stored>).parquet(path)`` sees only the member rows and
infers nothing. Probing a query batch routes each query to its n_probe
nearest centroids, collects the DISTINCT probed cell ids (<= n_cells
integers — driver-bounded by the cell count, never the data), and reads
the index with a plan-time ``cell IN (...)`` predicate, so the scan's
PartitionFilters prune to the probed directories: at 100 TB a 10-query
probe against a 1024-cell index touches ~n_probe directories' worth of
files, not the corpus. Scoring and ranking replicate ivf_ann_topk
bit-for-bit by construction: every routing and scoring GEMM here calls
operators/similarity.round6_cosine (the one cosine rule), in-cell top-k
is similarity.gemm_topk_pairs, and write_ivf_index seeds its centroids
with similarity.first_rows_matrix as ivf_ann_topk does — so a probe
against a persisted index equals the in-memory result for the same
queries, the equality a pytest asserts.
The sidecar (IVF-PQ's adds the codebook) has one writer, _write_sidecar,
and one reader, _read_sidecar; both are driver-side numpy file I/O, so an
index path must be a filesystem path the driver can open, and a probe
launches no Spark job for index metadata.

This module also owns the lifecycle of the persisted IVF-PQ indexes the
e_ivfpq_* and t_retrieval_pipeline queries probe: their build key, format
version, empty-corpus rule and ensure helpers (bottom of the file).

The reference has no file storage at all (pipe stdin/stdout only,
HACKING.md:127-140) — this is engine-extension surface (SURVEY.md §2.1).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from udlang_spark.operators.similarity import (
    _safe_norms,
    first_rows_matrix,
    gemm_topk_pairs,
    pq_adc_lookup,
    pq_code_block,
    round6_cosine,
)
from udlang_spark.session import persist_tracked
from udlang_spark.sources.tables import (
    artifact_built,
    artifact_path,
    ensure_artifact,
    load_table,
    table_fingerprint,
)

_SIDECAR = "_sidecar.npz"


class _Sidecar(NamedTuple):
    cells: StructType  # schema of the cell relation as Spark reads it
    centroids: np.ndarray  # n_cells x dim coarse quantizer, float64
    codebook: np.ndarray | None  # K x dim PQ codebook (IVF-PQ only)


def _write_sidecar(
    spark: SparkSession, path: str, centroids, codebook=None
) -> None:
    """Record what a probe or an append needs in one driver-side file,
    written after the cell relation (a crashed build leaves no sidecar
    over partial cells) and renamed into place whole. The matrices are
    float64, so double-precision centroids are never truncated and
    float32 ones widen exactly. The cell schema is the one Spark infers
    from the files just written — its one inference job runs here, at
    build time, and every later read of the cells passes it in."""
    import numpy as np

    mats = {"centroids": centroids}
    if codebook is not None:
        mats["codebook"] = codebook
    cells = spark.read.parquet(path).schema
    tmp = f"{path}/_sidecar.tmp"
    with open(tmp, "wb") as fh:
        np.savez(fh, cells=np.array(cells.json()), **mats)
    os.replace(tmp, f"{path}/{_SIDECAR}")


def _read_sidecar(path: str) -> _Sidecar:
    """The sidecar of the index at <path>, read with one np.load."""
    import numpy as np

    with np.load(f"{path}/{_SIDECAR}") as z:
        return _Sidecar(
            StructType.fromJson(json.loads(z["cells"].item())),
            z["centroids"],
            z["codebook"] if "codebook" in z else None,
        )


def _broadcast_centroids(spark: SparkSession, cent):
    """The coarse quantizer broadcast as (matrix, norms) — the trailing
    arguments of round6_cosine."""
    return spark.sparkContext.broadcast((cent, _safe_norms(cent)))


def _n_subspaces(schema: StructType) -> int:
    """PQ subspace count of an IVF-PQ code relation (its c0..c{m-1})."""
    return sum(
        1 for f in schema.fields if f.name.startswith("c") and f.name != "cell"
    )


def _routed_schema(sdf: DataFrame) -> StructType:
    return StructType(
        [
            StructField("cell", IntegerType(), False),
            StructField("id", sdf.schema["id"].dataType, True),
            StructField("vec", sdf.schema["vec"].dataType, True),
        ]
    )


def _member_router(bc):
    """Each row -> its argmax-cosine cell (first-max = lowest cell id)."""

    def route(batches):
        import numpy as np
        import pandas as pd

        for pb in batches:
            if len(pb) == 0:
                continue
            qc = round6_cosine(np.stack(pb["vec"].to_numpy()), *bc.value)
            yield pd.DataFrame(
                {
                    "cell": np.argmax(qc, axis=1).astype(np.int32),
                    "id": pb["id"].to_numpy(),
                    "vec": pb["vec"].to_numpy(),
                }
            )

    return route


def _query_router(bc, n_probe: int):
    """Each row -> its n_probe nearest cells (stable sort: ties break low)."""

    def route(batches):
        import numpy as np
        import pandas as pd

        for pb in batches:
            if len(pb) == 0:
                continue
            qc = round6_cosine(np.stack(pb["vec"].to_numpy()), *bc.value)
            probe = np.argsort(-qc, kind="stable", axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "cell": probe.ravel(),
                    "id": np.repeat(pb["id"].to_numpy(), n_probe),
                    "vec": np.repeat(pb["vec"].to_numpy(), n_probe),
                }
            )

    return route


def _pq_member_router(bc, bcb, n_subspaces: int):
    """Each row -> (argmax-cosine cell, PQ codes): the single route+encode
    kernel shared by IVF-PQ build and append (parity depends on both
    agreeing)."""

    def route_encode(batches):
        import numpy as np
        import pandas as pd

        for pb in batches:
            if len(pb) == 0:
                continue
            X = np.stack(pb["vec"].to_numpy()).astype(np.float64)
            qc = round6_cosine(X, *bc.value)
            codes, _ = pq_code_block(X, bcb.value, n_subspaces)
            out = {
                "cell": np.argmax(qc, axis=1).astype(np.int32),
                "id": pb["id"].to_numpy(),
            }
            for s in range(n_subspaces):
                out[f"c{s}"] = codes[:, s]
            yield pd.DataFrame(out)

    return route_encode


def _pq_code_schema(sdf: DataFrame, n_subspaces: int) -> StructType:
    return StructType(
        [
            StructField("cell", IntegerType(), False),
            StructField("id", sdf.schema["id"].dataType, True),
        ]
        + [
            StructField(f"c{s}", IntegerType(), True)
            for s in range(n_subspaces)
        ]
    )


def write_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    n_cells: int = 16,
) -> None:
    """Build and persist the inverted file: one narrow mapInPandas routes
    every member to its argmax-cosine cell (GEMM against the broadcast
    centroids — no shuffle); the partitioned write is the only wide op.
    Cells are the unit of parallelism AND of persistence.

    Coarse quantizer: the first n_cells vectors in id order (same seeding
    as ivf_ann_topk; a production build runs k-means here — the index
    machinery is identical). The ONLY driver materialization anywhere in
    the build, O(n_cells x dim)."""
    spark = df.sparkSession
    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cent = first_rows_matrix(sdf, n_cells)
    if cent is None:
        raise ValueError(
            "write_ivf_index: cannot build an IVF index over an empty "
            "relation (no rows to seed the coarse quantizer)"
        )
    bc = _broadcast_centroids(spark, cent)

    members = sdf.mapInPandas(_member_router(bc), _routed_schema(sdf))
    members.write.mode("overwrite").partitionBy("cell").parquet(path)
    _write_sidecar(spark, path, cent)


def append_to_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
) -> None:
    """Incrementally add members to an existing index: new rows route
    against the PERSISTED centroids (the quantizer is frozen — the
    production contract for serving indexes; re-quantizing would silently
    invalidate every cached probe) and append into their cell partitions.
    One narrow map + an append-mode partitioned write; existing files are
    untouched. Periodic rebuild (write_ivf_index) re-balances cells when
    drift makes the frozen quantizer a bad fit."""
    spark = df.sparkSession
    bc = _broadcast_centroids(spark, _read_sidecar(path).centroids)
    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    sdf.mapInPandas(_member_router(bc), _routed_schema(sdf)).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k neighbors for each query against a persisted index, reading
    only the probed cells' partitions. Returns (vec_id, nbr, cos_sim, rnk)
    — the ivf_ann_topk schema, value-identical for identical parameters."""
    import numpy as np
    import pandas as pd

    side = _read_sidecar(path)
    cent = side.centroids
    bc = _broadcast_centroids(spark, cent)
    n_probe = min(n_probe, len(cent))

    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # persisted: the distinct-cells collect below and the cogroup job are
    # separate actions — without the persist the routing (and the query
    # relation's lineage) would execute twice, and a nondeterministic query
    # lineage could route to cells absent from the collected IN-list,
    # silently losing neighbors
    routed_q = persist_tracked(
        q.mapInPandas(_query_router(bc, n_probe), _routed_schema(q))
    )

    # the probed-cell set is what makes partition pruning PLAN-time: it is
    # bounded by n_cells (distinct over <= n_cells integers), never by
    # |queries| — a runtime-only filter cannot prune partition directories
    cells = sorted(
        r["cell"] for r in routed_q.select("cell").distinct().collect()
    )
    index = spark.read.schema(side.cells).parquet(path).where(
        F.col("cell").isin([int(c) for c in cells])
    )

    def score(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(ipdf) == 0:
            return pd.DataFrame({"vec_id": [], "nbr": [], "cos_sim": []})
        return gemm_topk_pairs(
            qpdf["id"].to_numpy(),
            np.stack(qpdf["vec"].to_numpy()).astype(np.float64),
            ipdf["id"].to_numpy(),
            np.stack(ipdf["vec"].to_numpy()).astype(np.float64),
            k,
        )

    pair_schema = StructType(
        [
            StructField("vec_id", q.schema["id"].dataType, True),
            StructField("nbr", q.schema["id"].dataType, True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    scored = (
        routed_q.groupBy("cell")
        .cogroup(index.groupBy("cell"))
        .applyInPandas(lambda left, right: score(left, right), pair_schema)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nbr"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the production ANN layout at 100 TB — cells store PQ CODES, not
# raw vectors (64 float32 → n_subspaces int8-sized codes: ~64× less I/O per
# probed cell), and probing scores them with per-query ADC lookup tables in
# pure Column codegen. Composition of the persisted IVF machinery above
# with operators/similarity's PQ kernels (pq_code_block / pq_adc_lookup —
# parity with the in-memory e_pq_* queries depends on sharing them).
# ---------------------------------------------------------------------------


def write_ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    n_cells: int = 16,
    n_subspaces: int = 4,
    codebook_ids: tuple[int, ...] = tuple(range(16)),
) -> None:
    """Build and persist an IVF-PQ index: one narrow mapInPandas pass both
    routes every member to its argmax-cosine coarse cell AND PQ-encodes it
    (broadcast centroids + codebook, zero shuffle); the partitioned write
    is the only wide op. Layout::

        <path>/cell=<c>/*.parquet -- (id, c0..c{m-1}) PQ codes
        <path>/_sidecar.npz       -- coarse quantizer (row = cell), PQ
                                     codebook (row = position, id-sorted)
                                     and the schema of the code relation

    Quantizer/codebook seeding follows write_ivf_index / pq_encode: coarse
    centroids = first n_cells rows by id; codebook = the rows with
    `codebook_ids` (production would k-means both — the index machinery is
    identical). Raw vectors are NOT stored: exact re-rank reads them from
    the source relation (probe_ivfpq_index(rerank_src=...))."""
    import numpy as np

    spark = df.sparkSession
    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # ONE collection job funds both seeds: the first-n_cells-by-id coarse
    # quantizer and the codebook rows (two separate toPandas = two full
    # scans' scheduling; both materializations stay driver-bounded)
    seed_pdf = (
        sdf.orderBy("id")
        .limit(n_cells)
        .withColumn("_src", F.lit("cent"))
        .unionByName(
            sdf.where(F.col("id").isin(*codebook_ids)).withColumn(
                "_src", F.lit("cb")
            )
        )
        .toPandas()
    )
    cent_pdf = (
        seed_pdf[seed_pdf["_src"] == "cent"].drop(columns="_src").sort_values("id")
    )
    cb_pdf = (
        seed_pdf[seed_pdf["_src"] == "cb"].drop(columns="_src").sort_values("id")
    )
    if len(cent_pdf) == 0:
        raise ValueError(
            "write_ivfpq_index: cannot build an index over an empty relation"
        )
    if len(cb_pdf) == 0:
        raise ValueError("write_ivfpq_index: no codebook rows found")
    cent = np.stack(cent_pdf["vec"].to_numpy()).astype(np.float64)
    C = np.stack(cb_pdf["vec"].to_numpy()).astype(np.float64)
    bc = _broadcast_centroids(spark, cent)
    bcb = spark.sparkContext.broadcast(C)

    # fan_out(8): the route+encode GEMM is CPU-heavy per row and a
    # single-file source would serialize the whole build through one task
    # (no-op when the input is already parallel — the 100 TB case); the
    # repartition("cell") afterwards keeps the file count at one per
    # NON-EMPTY cell instead of tasks×cells small files — the same layout
    # a cluster build wants, since probes open every file of a probed cell
    from udlang_spark.sources.tables import fan_out

    fan_out(sdf, 8).mapInPandas(
        _pq_member_router(bc, bcb, n_subspaces),
        _pq_code_schema(sdf, n_subspaces),
    ).repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        path
    )

    _write_sidecar(spark, path, cent, C)


def append_to_ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
) -> None:
    """Incrementally add members to an existing IVF-PQ index: new rows
    route against the PERSISTED coarse quantizer and encode against the
    PERSISTED codebook (both frozen — re-deriving either would silently
    invalidate every stored code), then append into their cell
    partitions. One narrow route+encode map + an append-mode partitioned
    write; existing files untouched. Periodic rebuild re-balances."""
    spark = df.sparkSession
    side = _read_sidecar(path)
    bc = _broadcast_centroids(spark, side.centroids)
    bcb = spark.sparkContext.broadcast(side.codebook)
    n_subspaces = _n_subspaces(side.cells)

    sdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    sdf.mapInPandas(
        _pq_member_router(bc, bcb, n_subspaces),
        _pq_code_schema(sdf, n_subspaces),
    ).write.mode("append").partitionBy("cell").parquet(path)


def probe_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_probe: int = 4,
    rerank_src: DataFrame | None = None,
    rerank_r: int | None = None,
) -> DataFrame:
    """ADC top-k for each query against a persisted IVF-PQ index.

    Plan shape (the 100 TB serving path): queries route against the
    broadcast coarse quantizer (narrow map); the DISTINCT probed cells
    (≤ n_cells ints to the driver) prune the code scan at PLAN time
    (PartitionFilters); the tiny (query, cell) routing relation and the
    per-query ADC lookup tables are BROADCAST joins against the pruned
    codes; scoring is pure Column codegen (element_at + fixed-order adds —
    no floats read per candidate); the only wide op is the per-query
    top-k window over probed candidates. Query vectors are collected to
    build the tables — bounded by the probe batch (the serving contract),
    never the corpus.

    Returns (query_id, vec_id, adc_dist, rnk). With `rerank_src` (a
    relation carrying raw vectors for ids), the ADC top-`rerank_r`
    (default 4k) are re-scored with exact cosine against the raw vectors —
    the standard IVF-PQ accuracy backstop; returns
    (query_id, vec_id, cos_sim, rnk) ranked by cosine.

    Composition of `_adc_probe` + `_adc_rescore` so a caller that needs
    BOTH arms (e_ivfpq_recall) routes/scans/scores the index ONCE and
    derives the raw-ADC and reranked rankings from the same relation —
    probing twice measured +2.0 s of pure duplicate work at sf0.1."""
    topr = (
        rerank_r
        if rerank_r is not None
        else (4 * k if rerank_src is not None else k)
    )
    adc_top, qpd, id_dtype = _adc_probe(
        spark, path, queries, vec_col, id_col, topr, n_probe
    )
    if qpd is None:
        return adc_top  # empty-panel contract: typed empty result
    if rerank_src is None:
        return adc_top.filter(F.col("rnk") <= k)
    return _adc_rescore(
        spark, adc_top, qpd, rerank_src, vec_col, id_col, k, id_dtype
    )


def probe_ivfpq_arms(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    rerank_src: DataFrame,
    rerank_r: int = 20,
    n_probe: int = 4,
) -> tuple[DataFrame | None, DataFrame | None]:
    """BOTH serving arms from ONE probe of a persisted IVF-PQ index: the
    raw ADC top-`k` and the exact rerank of the ADC top-`rerank_r`
    (re-scored against `rerank_src` raw vectors, re-ranked to top-`k`).

    This is the public two-arm surface the recall governance cards
    (e_ivfpq_recall / e_ivfpq_append_recall) consume — the index is
    routed/scanned/ADC-scored ONCE (a second probe measured +2.0 s of
    pure duplicate work at sf0.1) and both arms derive from the same
    persisted candidate relation (the ADC top-`rerank_r`). Returns
    (adc_topk, reranked_topk): adc_topk is (query_id, vec_id, adc_dist,
    rnk ≤ k), reranked_topk is (query_id, vec_id, cos_sim, rnk ≤ k). On an
    empty query panel returns (None, None) — the caller owns its
    typed-empty contract."""
    adc_top, qpd, id_dtype = _adc_probe(
        spark, path, queries, vec_col, id_col, rerank_r, n_probe
    )
    if qpd is None:
        return None, None
    adc_top = persist_tracked(adc_top)
    rr = _adc_rescore(
        spark, adc_top, qpd, rerank_src, vec_col, id_col, k, id_dtype
    )
    return adc_top.filter(F.col("rnk") <= k), rr


def _adc_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    topr: int,
    n_probe: int,
):
    """Route + partition-pruned scan + ADC score + per-query top-`topr`.

    The query panel is bounded by the serving contract and collected ONCE
    (toPandas — it was always collected here for the ADC tables): routing,
    the probed-cell list, the (query, cell) routing relation, and the
    per-query lookup tables all derive driver-side in numpy from that one
    collect. The distributed mapInPandas router this replaces (r12 shape)
    was a per-run Python-worker round-trip plus a persist and two extra
    collect jobs that re-derived what the table build already held; the
    routing kernel is the build's (similarity.round6_cosine, stable
    argsort, ties break low), so the probed cells are bit-identical.
    Returns (adc_top, qpd, id_dtype); on an empty query panel returns
    (typed empty result, None, None)."""
    import numpy as np

    side = _read_sidecar(path)
    n_probe = min(n_probe, len(side.centroids))

    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    qpd = q.dropDuplicates(["id"]).toPandas().sort_values("id")
    if len(qpd) == 0:
        empty = StructType(
            [
                StructField("query_id", q.schema["id"].dataType, True),
                StructField("vec_id", q.schema["id"].dataType, True),
                StructField("adc_dist", DoubleType(), True),
                StructField("rnk", IntegerType(), False),
            ]
        )
        return spark.createDataFrame([], empty), None, None
    Q = np.stack(qpd["vec"].to_numpy()).astype(np.float64)
    # driver-side routing: _query_router's kernel over the collected panel
    qc = round6_cosine(Q, side.centroids)
    probe_cells = np.argsort(-qc, kind="stable", axis=1)[:, :n_probe]
    cells = sorted({int(c) for c in probe_cells.ravel()})
    codes = spark.read.schema(side.cells).parquet(path).where(
        F.col("cell").isin(cells)
    )
    id_type = q.schema["id"].dataType
    tabs, dist = pq_adc_lookup(
        spark, qpd["id"], Q, side.codebook, _n_subspaces(side.cells), id_type
    )
    routing = F.broadcast(
        spark.createDataFrame(
            [
                (qid, int(c))
                for qid, row in zip(qpd["id"], probe_cells)
                for c in row
            ],
            f"query_id {id_type.simpleString()}, cell int",
        )
    )
    scored = (
        codes.join(routing, "cell")
        .filter(F.col("id") != F.col("query_id"))
        .join(tabs, "query_id")
        .select("query_id", F.col("id").alias("vec_id"), dist.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    adc_top = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topr)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )
    return adc_top, qpd, id_type


def _adc_rescore(
    spark: SparkSession,
    adc_top: DataFrame,
    qpd,
    rerank_src: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    id_dtype,
) -> DataFrame:
    """Exact re-rank of an ADC candidate relation: raw vectors for the
    SHORT candidate list only — |Q|·topr rows against the source relation,
    never the corpus scan. Scoring goes through gemm_topk_pairs, the same
    parity-critical scorer probe_ivf_index uses, so reranking over ALL
    probed candidates is bit-equal to the uncompressed IVF probe
    (pytest-pinned)."""
    import numpy as np
    import pandas as pd

    src = rerank_src.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("nvec")
    )
    cand = adc_top.select("query_id", "vec_id").join(src, "vec_id")
    qmap = {qid: np.asarray(v, dtype=np.float64) for qid, v in zip(qpd["id"], qpd["vec"])}
    bq = spark.sparkContext.broadcast(qmap)

    def rescore(gpdf: pd.DataFrame) -> pd.DataFrame:
        qid = gpdf["query_id"].iloc[0]
        qv = bq.value[qid]
        out = gemm_topk_pairs(
            np.asarray([qid]),
            qv[None, :],
            gpdf["vec_id"].to_numpy(),
            np.stack(gpdf["nvec"].to_numpy()).astype(np.float64),
            k,
        )
        return out.rename(columns={"vec_id": "query_id", "nbr": "vec_id"})

    pair_schema = StructType(
        [
            StructField("query_id", id_dtype, True),
            StructField("vec_id", id_dtype, True),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    rescored = cand.groupBy("query_id").applyInPandas(
        lambda g: rescore(g), pair_schema
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# ---------------------------------------------------------------------------
# The persisted IVF-PQ indexes over `embeddings` that the e_ivfpq_* and
# t_retrieval_pipeline queries probe: built once per (data, layout) under
# tempfile.gettempdir(), completed by the _BUILT marker (sources/tables
# ensure_artifact), so a query's steady-state cost is the probe.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces over the 64-dim embeddings (16 dims each)
PQ_CB = tuple(range(16))  # codebook seed rows (16 codewords per subspace)
_CELLS = 16
_IVFPQ_FMT = 2  # bump on any layout change (2: one driver-read sidecar file)
_IVFPQ = "udlang_spark_ivfpq"  # index artifact directory prefix


def _ivfpq_key(sf_dir: str, variant: str = "") -> str:
    """Build key: the embeddings file fingerprint (size+mtime), so
    regenerated data is a cache miss, plus every layout parameter."""
    v = f"|{variant}" if variant else ""
    fp = table_fingerprint(sf_dir, "embeddings")
    return f"{sf_dir}{v}|{fp}|cells={_CELLS}|m={PQ_M}|cb={PQ_CB}|fmt={_IVFPQ_FMT}"


def ivfpq_index_path(sf_dir: str) -> str:
    """Where the e_ivfpq_ann index for sf_dir lives, built or not."""
    return artifact_path(_IVFPQ, _ivfpq_key(sf_dir))


def _ensure_ivfpq(spark: SparkSession, sf_dir: str, variant: str, build):
    """The index path, built by build(emb, path) on a miss; None for an
    empty corpus, which has no index. The emptiness probe is a Spark job,
    so it runs only when no completed build exists (a marker implies a
    non-empty corpus)."""
    key = _ivfpq_key(sf_dir, variant)
    emb = load_table(spark, "embeddings", sf_dir)
    if not artifact_built(artifact_path(_IVFPQ, key)) and not emb.limit(1).collect():
        return None
    return ensure_artifact(_IVFPQ, key, lambda path: build(emb, path))


def ivfpq_ensure_index(
    spark: SparkSession, sf_dir: str, force_rebuild: bool = False
) -> str | None:
    """The e_ivfpq_ann index over all embeddings. bench.py times its build
    apart (force_rebuild=True), so the headline query measures the probe
    alone (r6 verdict #6)."""
    if force_rebuild:
        shutil.rmtree(ivfpq_index_path(sf_dir), ignore_errors=True)
    return _ensure_ivfpq(
        spark,
        sf_dir,
        "",
        lambda emb, path: write_ivfpq_index(
            emb, "embedding", "vec_id", path, _CELLS, PQ_M, PQ_CB
        ),
    )


def ivfpq_ensure_append_index(spark: SparkSession, sf_dir: str) -> str | None:
    """The e_ivfpq_append index: built over the first half of the ids,
    then append_to_ivfpq_index adds the rest against the frozen quantizer
    and codebook."""

    def build(emb: DataFrame, path: str) -> None:
        max_id = int(emb.agg(F.max("vec_id")).collect()[0][0])
        # base half must contain the quantizer/codebook seed rows (ids
        # 0..15) so the frozen artifacts equal the full build's
        cutoff = max(max(PQ_CB) + 1, (max_id + 1) // 2)
        base = emb.where(F.col("vec_id") < cutoff)
        write_ivfpq_index(base, "embedding", "vec_id", path, _CELLS, PQ_M, PQ_CB)
        if max_id >= cutoff:
            rest = emb.where(F.col("vec_id") >= cutoff)
            append_to_ivfpq_index(rest, "embedding", "vec_id", path)

    return _ensure_ivfpq(spark, sf_dir, "append", build)
