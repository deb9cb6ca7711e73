"""Persisted IVF index: probe-vs-in-memory equality, partition pruning,
and layout invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_CORRECTNESS
from udlang_spark.operators import ann_index, similarity
from udlang_spark.sources.tables import load_table


def _embeddings(spark):
    return load_table(spark, "embeddings", SF_DIR_CORRECTNESS)


def _first_vectors(emb, n):
    """The first n embeddings in vec_id order as a float64 matrix."""
    import numpy as np

    rows = emb.orderBy("vec_id").limit(n).collect()
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_round6_cosine_zero_norm_row_scores_zero():
    """A zero vector scores exactly 0.0 against everything (itself and
    other zero rows included) — never NaN, which Spark sorts above every
    double and would rank into each top-k."""
    import numpy as np

    a = np.array([[0.0, 0.0, 0.0], [1.0, -2.0, 0.5]])
    b = np.array([[3.0, 1.0, -1.0], [0.0, 0.0, 0.0]])
    cos = similarity.round6_cosine(a, b)
    assert not np.isnan(cos).any()
    assert (cos[0] == 0.0).all() and (cos[:, 1] == 0.0).all()
    self_cos = similarity.round6_cosine(a)
    assert not np.isnan(self_cos).any()
    assert (self_cos[0] == 0.0).all() and (self_cos[:, 0] == 0.0).all()


@pytest.mark.parametrize("rounded", [True, False])
@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_round6_cosine_bit_identical_to_left_then_right_formula(
    dtype, rounded, monkeypatch
):
    """The shared kernel equals, bit for bit, the rule written out inline:
    float64 GEMM, divide by the left norms, then by the right, round to 6
    — for float32 and float64 inputs, and on all three call shapes (two
    matrices, precomputed right norms, self-similarity). Rounding hides
    most 1-ulp differences, so the unrounded case (np.round patched to the
    identity on both sides) pins the division order itself."""
    import numpy as np

    if not rounded:
        monkeypatch.setattr(np, "round", lambda x, decimals=0, out=None: x)
    rng = np.random.default_rng(20261019)
    a = rng.standard_normal((97, 64)).astype(dtype)
    b = rng.standard_normal((41, 64)).astype(dtype)

    def ref(x, y):
        x = x.astype(np.float64)
        y = x if y is None else y.astype(np.float64)
        out = (x @ y.T) / np.sqrt((x * x).sum(axis=1))[:, None]
        out = out / np.sqrt((y * y).sum(axis=1))[None, :]
        return np.round(out, 6)

    b_norm = np.sqrt((b.astype(np.float64) ** 2).sum(axis=1))
    assert np.array_equal(similarity.round6_cosine(a, b), ref(a, b))
    assert np.array_equal(similarity.round6_cosine(a, b, b_norm), ref(a, b))
    assert np.array_equal(similarity.round6_cosine(a), ref(a, None))


def test_round6_cosine_rounds_before_ranking():
    """Cosines that differ only past the 6th decimal tie, and the tie goes
    to the lower id: raw floats would rank id 2 (cos 1 - 5e-9) above id 1
    (cos 1 - 2e-8)."""
    import numpy as np

    q = np.array([[1.0, 0.0]])
    b = np.array([[1.0, 2e-4], [1.0, 1e-4]])
    raw = (q @ b.T) / np.sqrt((b * b).sum(axis=1))
    assert raw[0, 1] > raw[0, 0]
    cos = similarity.round6_cosine(q, b)
    assert np.array_equal(cos, np.round(cos, 6))
    assert cos[0, 0] == cos[0, 1] == 1.0
    top = similarity.gemm_topk_pairs(
        np.array([0]), q, np.array([1, 2]), b, k=2
    )
    assert top["nbr"].tolist() == [1, 2]
    assert top["cos_sim"].tolist() == [1.0, 1.0]


def test_probe_equals_in_memory(spark, tmp_path):
    """A probe against the persisted index returns exactly what
    ivf_ann_topk computes for the same queries/parameters: same centroids,
    same routing, same in-cell GEMM, same merge."""
    emb = _embeddings(spark)
    path = str(tmp_path / "ivf")
    ann_index.write_ivf_index(emb, "embedding", "vec_id", path, n_cells=16)

    queries = emb.where(F.col("vec_id") < 50)
    got = ann_index.probe_ivf_index(
        spark, path, queries, "embedding", "vec_id", k=5, n_probe=4
    )
    want = similarity.ivf_ann_topk(
        emb, "embedding", "vec_id", k=5, n_cells=16, n_probe=4
    ).where(F.col("vec_id") < 50)

    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows == want_rows
    assert len(got_rows) == 50 * 5


def test_probe_prunes_partitions(spark, tmp_path):
    """The index scan must read ONLY the probed cells' directories —
    partition pruning is what makes the persisted index a serving path.
    inputFiles() on the pruned reader reflects the partition filter."""
    emb = _embeddings(spark)
    path = str(tmp_path / "ivf")
    ann_index.write_ivf_index(emb, "embedding", "vec_id", path, n_cells=16)

    one_query = emb.where(F.col("vec_id") == 7)
    out = ann_index.probe_ivf_index(
        spark, path, one_query, "embedding", "vec_id", k=3, n_probe=2
    )
    assert out.count() == 3

    # replicate the reader the probe builds: 2 probed cells -> at most 2
    # cell directories' files; the unfiltered index has 16
    all_files = spark.read.parquet(path).inputFiles()
    all_cells = {f.split("cell=")[1].split("/")[0] for f in all_files}
    assert len(all_cells) == 16
    import numpy as np

    # the sidecar's row i is cell i: the i-th vector in id order
    cent = ann_index._read_sidecar(path).centroids
    assert np.array_equal(cent, _first_vectors(emb, 16))
    qv = np.asarray(one_query.collect()[0]["embedding"], dtype=np.float64)
    qc = (cent @ qv) / (np.linalg.norm(cent, axis=1) * np.linalg.norm(qv))
    np.round(qc, 6, out=qc)
    probe_cells = [int(c) for c in np.argsort(-qc, kind="stable")[:2]]
    pruned = spark.read.parquet(path).where(F.col("cell").isin(probe_cells))
    # inputFiles() lists the relation pre-filter; pruning is a PLAN property —
    # the scan must carry the cell IN (...) predicate as a PartitionFilter
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line and " IN " in pf_line
    assert all(str(c) in pf_line for c in probe_cells)


def test_index_layout_and_rebuild(spark, tmp_path):
    """Overwrite semantics: rebuilding the index over the same data leaves
    one coherent copy (no stale cells), and every member row appears in
    exactly one cell."""
    emb = _embeddings(spark)
    path = str(tmp_path / "ivf")
    ann_index.write_ivf_index(emb, "embedding", "vec_id", path, n_cells=8)
    ann_index.write_ivf_index(emb, "embedding", "vec_id", path, n_cells=8)

    members = spark.read.parquet(path)
    n = emb.count()
    assert members.count() == n
    assert members.select("id").distinct().count() == n
    assert len(ann_index._read_sidecar(path).centroids) == 8


def test_append_equals_rebuild(spark, tmp_path):
    """Building on the first 400 vectors then appending the last 100 must
    equal a full rebuild, because the frozen quantizer (first n_cells ids)
    is identical either way — so probes agree bit-for-bit."""
    emb = _embeddings(spark)
    base = emb.where(F.col("vec_id") < 400)
    extra = emb.where(F.col("vec_id") >= 400)

    p_inc = str(tmp_path / "ivf_inc")
    ann_index.write_ivf_index(base, "embedding", "vec_id", p_inc, n_cells=16)
    ann_index.append_to_ivf_index(extra, "embedding", "vec_id", p_inc)

    p_full = str(tmp_path / "ivf_full")
    ann_index.write_ivf_index(emb, "embedding", "vec_id", p_full, n_cells=16)

    queries = emb.where(F.col("vec_id") % 50 == 0)
    got = {
        tuple(r)
        for r in ann_index.probe_ivf_index(
            spark, p_inc, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    want = {
        tuple(r)
        for r in ann_index.probe_ivf_index(
            spark, p_full, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    assert got == want and len(got) == queries.count() * 5


def _recall(got, want, qcol_g, ncol_g, qcol_w, ncol_w):
    g, w = {}, {}
    for r in got.collect():
        g.setdefault(r[qcol_g], set()).add(r[ncol_g])
    for r in want.collect():
        w.setdefault(r[qcol_w], set()).add(r[ncol_w])
    hit = sum(len(g.get(q, set()) & w[q]) for q in w)
    return hit / sum(len(w[q]) for q in w)


def test_ivfpq_layout_and_code_parity(spark, tmp_path):
    """The persisted codes must equal pq_encode's output for the same
    codebook (one encode kernel — pq_code_block — on both paths), every
    member lands in exactly one cell, and both sidecars are present."""
    emb = _embeddings(spark)
    path = str(tmp_path / "ivfpq")
    ann_index.write_ivfpq_index(
        emb, "embedding", "vec_id", path, n_cells=16, n_subspaces=4
    )

    codes = spark.read.parquet(path)
    n = emb.count()
    assert codes.count() == n
    assert codes.select("id").distinct().count() == n
    assert {f.name for f in codes.schema.fields} == {
        "cell", "id", "c0", "c1", "c2", "c3",
    }
    side = ann_index._read_sidecar(path)
    assert len(side.centroids) == 16
    assert len(side.codebook) == 16

    want = {
        (r["vec_id"], r["c0"], r["c1"], r["c2"], r["c3"])
        for r in similarity.pq_encode(
            emb, "embedding", "vec_id", n_subspaces=4, with_error=False
        ).collect()
    }
    got = {
        (r["id"], r["c0"], r["c1"], r["c2"], r["c3"])
        for r in codes.collect()
    }
    assert got == want


def test_ivfpq_rerank_over_all_candidates_equals_ivf_probe(spark, tmp_path):
    """Exactness backstop: reranking the ENTIRE probed candidate set with
    raw vectors must reproduce the uncompressed IVF probe bit-for-bit —
    same routing (shared round6_cosine), same candidates, same scorer
    (shared gemm_topk_pairs), same tie-breaks. This pins that IVF-PQ's
    approximation lives ONLY in the ADC scoring/truncation, never in the
    routing or candidate generation."""
    emb = _embeddings(spark)
    pq_path = str(tmp_path / "ivfpq")
    ivf_path = str(tmp_path / "ivf")
    ann_index.write_ivfpq_index(emb, "embedding", "vec_id", pq_path, n_cells=16)
    ann_index.write_ivf_index(emb, "embedding", "vec_id", ivf_path, n_cells=16)

    queries = emb.where(F.col("vec_id") < 30)
    n = emb.count()
    got = {
        tuple(r)
        for r in ann_index.probe_ivfpq_index(
            spark, pq_path, queries, "embedding", "vec_id",
            k=5, n_probe=4, rerank_src=emb, rerank_r=n,
        ).collect()
    }
    want = {
        tuple(r)
        for r in ann_index.probe_ivf_index(
            spark, ivf_path, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    assert got == want and len(got) == 30 * 5


def test_ivfpq_rerank_improves_adc_recall(spark, tmp_path):
    """The exact-cosine rerank of the ADC top-4k must recall strictly more
    of the uncompressed IVF top-k than raw ADC ranking does. (The synthetic
    embeddings are near-random — median pairwise cosine 0.000 — so absolute
    PQ recall is inherently modest; measured at sf0.01: ADC ≈ 0.25,
    rerank ≈ 0.55. The floors assert half that margin to stay robust.)"""
    emb = _embeddings(spark)
    pq_path = str(tmp_path / "ivfpq")
    ivf_path = str(tmp_path / "ivf")
    ann_index.write_ivfpq_index(emb, "embedding", "vec_id", pq_path, n_cells=16)
    ann_index.write_ivf_index(emb, "embedding", "vec_id", ivf_path, n_cells=16)

    queries = emb.where(F.col("vec_id") < 40)
    exact = ann_index.probe_ivf_index(
        spark, ivf_path, queries, "embedding", "vec_id", k=10, n_probe=6
    )
    adc = ann_index.probe_ivfpq_index(
        spark, pq_path, queries, "embedding", "vec_id", k=10, n_probe=6
    )
    rer = ann_index.probe_ivfpq_index(
        spark, pq_path, queries, "embedding", "vec_id",
        k=10, n_probe=6, rerank_src=emb,
    )
    r_adc = _recall(adc, exact, "query_id", "vec_id", "vec_id", "nbr")
    r_rer = _recall(rer, exact, "query_id", "vec_id", "vec_id", "nbr")
    assert r_rer > r_adc
    assert r_adc >= 0.12 and r_rer >= 0.4


def test_ivfpq_probe_prunes_partitions(spark, tmp_path):
    """The code scan must carry the probed-cell IN-list as a plan-time
    PartitionFilter — same serving-path property as the raw IVF index."""
    emb = _embeddings(spark)
    path = str(tmp_path / "ivfpq")
    ann_index.write_ivfpq_index(emb, "embedding", "vec_id", path, n_cells=16)

    one_query = emb.where(F.col("vec_id") == 7)
    out = ann_index.probe_ivfpq_index(
        spark, path, one_query, "embedding", "vec_id", k=3, n_probe=2
    )
    assert out.count() == 3

    import numpy as np

    # the sidecar's row i is cell i: the i-th vector in id order
    cent = ann_index._read_sidecar(path).centroids
    assert np.array_equal(cent, _first_vectors(emb, 16))
    qv = np.asarray(one_query.collect()[0]["embedding"], dtype=np.float64)
    qc = (cent @ qv) / (np.linalg.norm(cent, axis=1) * np.linalg.norm(qv))
    np.round(qc, 6, out=qc)
    probe_cells = [int(c) for c in np.argsort(-qc, kind="stable")[:2]]
    pruned = spark.read.parquet(path).where(F.col("cell").isin(probe_cells))
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line and " IN " in pf_line
    assert all(str(c) in pf_line for c in probe_cells)


def test_double_precision_vectors_round_trip(spark, tmp_path):
    """The centroid sidecar must preserve the source element type: with
    array<double> vectors a float32 sidecar would route append/probe
    against truncated centroids, breaking parity with the in-memory path."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    emb = _embeddings(spark).select(
        "vec_id", F.col("embedding").cast(ArrayType(DoubleType())).alias("embedding")
    )
    path = str(tmp_path / "ivf_double")
    ann_index.write_ivf_index(emb, "embedding", "vec_id", path, n_cells=16)
    side = ann_index._read_sidecar(path)
    assert isinstance(side.cells["vec"].dataType.elementType, DoubleType)
    assert np.array_equal(side.centroids, _first_vectors(emb, 16))

    queries = emb.where(F.col("vec_id") < 30)
    got = {
        tuple(r)
        for r in ann_index.probe_ivf_index(
            spark, path, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    want = {
        tuple(r)
        for r in similarity.ivf_ann_topk(
            emb, "embedding", "vec_id", k=5, n_cells=16, n_probe=4
        )
        .where(F.col("vec_id") < 30)
        .collect()
    }
    assert got == want and len(got) == 30 * 5


def test_ivfpq_append_equals_rebuild(spark, tmp_path):
    """IVF-PQ incremental append: building on the first 400 vectors then
    appending the last 100 equals a full rebuild — the frozen quantizer
    AND the frozen codebook (both read from sidecars) make routing and
    codes identical either way, so probes agree bit-for-bit."""
    emb = _embeddings(spark)
    base = emb.where(F.col("vec_id") < 400)
    extra = emb.where(F.col("vec_id") >= 400)

    p_inc = str(tmp_path / "ivfpq_inc")
    ann_index.write_ivfpq_index(base, "embedding", "vec_id", p_inc, n_cells=16)
    ann_index.append_to_ivfpq_index(extra, "embedding", "vec_id", p_inc)

    p_full = str(tmp_path / "ivfpq_full")
    ann_index.write_ivfpq_index(emb, "embedding", "vec_id", p_full, n_cells=16)

    queries = emb.where(F.col("vec_id") % 50 == 0)
    got = {
        tuple(r)
        for r in ann_index.probe_ivfpq_index(
            spark, p_inc, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    want = {
        tuple(r)
        for r in ann_index.probe_ivfpq_index(
            spark, p_full, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    assert got == want and len(got) == queries.count() * 5


def test_ivfpq_multi_increment_append_equals_rebuild(spark, tmp_path):
    """Production ingest never appends exactly once (r12 VERDICT #7):
    build on the first third, append the middle third, then append the
    final third — the frozen-quantizer/frozen-codebook contract must
    hold under REPEATED growth, so the twice-grown index probes
    bit-identically to a from-scratch build over the full corpus."""
    emb = _embeddings(spark)
    p_inc = str(tmp_path / "ivfpq_inc3")
    ann_index.write_ivfpq_index(
        emb.where(F.col("vec_id") < 167), "embedding", "vec_id", p_inc, n_cells=16
    )
    ann_index.append_to_ivfpq_index(
        emb.where((F.col("vec_id") >= 167) & (F.col("vec_id") < 334)),
        "embedding",
        "vec_id",
        p_inc,
    )
    ann_index.append_to_ivfpq_index(
        emb.where(F.col("vec_id") >= 334), "embedding", "vec_id", p_inc
    )

    p_full = str(tmp_path / "ivfpq_full3")
    ann_index.write_ivfpq_index(emb, "embedding", "vec_id", p_full, n_cells=16)

    queries = emb.where(F.col("vec_id") % 50 == 0)
    got = {
        tuple(r)
        for r in ann_index.probe_ivfpq_index(
            spark, p_inc, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    want = {
        tuple(r)
        for r in ann_index.probe_ivfpq_index(
            spark, p_full, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    assert got == want and len(got) == queries.count() * 5


def test_ivfpq_ensure_index_marker_crash_consistency(spark, tmp_path, monkeypatch):
    """ivfpq_ensure_index's cache contract: a directory WITHOUT the _BUILT
    marker (crashed build) is rebuilt, and a completed build is reused
    (no second write). The marker is written only after write_ivfpq_index
    fully returns, so a half-written index can never be probed."""
    import os

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    path = ann_index.ivfpq_ensure_index(spark, SF_DIR_CORRECTNESS)
    marker = os.path.join(path, "_BUILT")
    assert os.path.exists(marker)
    first_mtime = os.path.getmtime(marker)

    # completed build: second call must reuse, not rebuild
    assert ann_index.ivfpq_ensure_index(spark, SF_DIR_CORRECTNESS) == path
    assert os.path.getmtime(marker) == first_mtime

    # crashed build: directory present, marker missing -> full rebuild
    os.remove(marker)
    assert ann_index.ivfpq_ensure_index(spark, SF_DIR_CORRECTNESS) == path
    assert os.path.exists(marker)


@pytest.mark.parametrize(
    "prefix, layout",
    [
        ("udlang_spark_ivfpq", "cells=16|m=4|cb=(1,2)|fmt=3"),
        ("udlang_spark_ndidx", "nh=8|br=2|pfx=2|fmt=3"),
    ],
    ids=["ivfpq", "ndidx"],
)
def test_index_gc_retires_stale_generations(tmp_path, prefix, layout):
    """A cache-miss build garbage-collects sibling index dirs of the SAME
    (sf_dir, variant) identity with a stale fingerprint — and ONLY those:
    other variants, other sf_dirs, and markerless dirs survive (ADVICE
    r7: stranded /tmp/udlang_spark_ivfpq_* generations). Both persisted
    indexes (IVF-PQ and the near-dup ingest index) share the helper."""
    import os
    import shutil
    import tempfile

    from udlang_spark.sources.tables import gc_stale_artifacts

    td = tempfile.gettempdir()

    def mk(tag, key):
        p = f"{td}/{prefix}_gctest{tag}"
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, "_BUILT"), "w") as fh:
            fh.write(key)
        return p

    cur_key = f"/d/sf|fpA|{layout}"
    cur = mk("cur", cur_key)
    stale = mk("stale", f"/d/sf|fpOLD|{layout}")
    othervar = mk("var", f"/d/sf|append|fpA|{layout}")
    otherdir = mk("dir", f"/e/sf|fpA|{layout}")
    bare = f"{td}/{prefix}_gctestbare"
    os.makedirs(bare, exist_ok=True)
    try:
        gc_stale_artifacts(prefix, cur_key, cur)
        assert os.path.exists(cur)
        assert not os.path.exists(stale)
        assert os.path.exists(othervar)
        assert os.path.exists(otherdir)
        assert os.path.exists(bare)
    finally:
        for p in (cur, stale, othervar, otherdir, bare):
            shutil.rmtree(p, ignore_errors=True)
