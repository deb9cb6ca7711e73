"""Differential correctness vs. DuckDB for LLM-pipeline queries at sf0.01."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_CORRECTNESS
from tests.oracle_harness import compare
from udlang_spark.operators import similarity
from udlang_spark.queries import llm
from udlang_spark.session import plan_cache


@pytest.mark.parametrize("name", sorted(llm.ORACLE))
def test_llm_query_matches_oracle(spark, duck, name):
    compare(
        spark,
        duck,
        name,
        llm.QUERIES[name],
        llm.ORACLE[name],
        SF_DIR_CORRECTNESS,
    )


def test_minhash_finds_planted_near_dups(spark):
    # the testdata contains ~25 pairs with jaccard >= 0.9; LSH with 4 bands
    # of 2 rows catches a >= 0.9 pair with prob 1-(1-0.81)^4 ≈ 99.9%
    rows = llm.QUERIES["d_minhash_lsh"](spark, SF_DIR_CORRECTNESS).collect()
    assert len(rows) >= 20
    assert all(r.jaccard >= 0.8 for r in rows)


def test_minhash_binary_min_equals_string_min(spark):
    """r14 signature narrowing: min over unhex(md5) re-hexed must equal
    the min over the hex strings themselves (the pre-r14 aggregation) —
    the order-preservation claim _signatures_from_shingles now relies on,
    checked per signature over the real corpus."""
    from pyspark.sql import functions as F

    from udlang_spark.operators import dedup
    from udlang_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_DIR_CORRECTNESS)
    sh = dedup.shingle_sets(docs, "text", "doc_id")
    new = dedup._signatures_from_shingles(sh)
    ex = sh.select("doc", F.explode("sh").alias("s"))
    old = ex.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{h}:"), F.col("s")))).alias(f"sig_{h}")
            for h in range(dedup.N_HASHES)
        ]
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_kmv_union_sketch_equals_full_union_bottom_k(spark):
    """r14 t_kmv_jaccard restructure: the union sketch derived from the
    two per-set sketches (union-then-truncate) must equal the bottom-k of
    the FULL hash-set union — the KMV mergeability property the query now
    relies on instead of re-scanning both hash relations."""
    from udlang_spark.operators.sketches import KMV_K, kmv_hashes
    from udlang_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_DIR_CORRECTNESS)
    a_h, b_h = kmv_hashes(docs, "en"), kmv_hashes(docs, "de")
    full = [
        r.h
        for r in a_h.union(b_h).distinct().orderBy("h").limit(KMV_K).collect()
    ]
    a_k = a_h.orderBy("h").limit(KMV_K)
    b_k = b_h.orderBy("h").limit(KMV_K)
    merged = [
        r.h
        for r in a_k.union(b_k).distinct().orderBy("h").limit(KMV_K).collect()
    ]
    assert merged == full


def test_ann_recall_vs_brute_force(spark):
    exact = {
        (r.vec_id, r.nbr)
        for r in llm.QUERIES["e_cosine_topk"](spark, SF_DIR_CORRECTNESS).collect()
        if r.rnk <= 3
    }
    approx = {
        (r.vec_id, r.nbr)
        for r in llm.QUERIES["e_ann_lsh"](spark, SF_DIR_CORRECTNESS).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.3, f"ANN recall too low: {recall:.2f}"


def test_image_decode_deterministic(spark):
    df = llm.QUERIES["m_image_meta"](spark, SF_DIR_CORRECTNESS)
    rows1 = {r.doc_id: (r.width, r.height, r.channels) for r in df.collect()}
    rows2 = {r.doc_id: (r.width, r.height, r.channels) for r in df.collect()}
    assert rows1 == rows2
    assert all(1 <= w <= 64 and 1 <= h <= 64 and c == 3 for w, h, c in rows1.values())


def test_real_decode_rejects_text_corpus(spark):
    """The documents table carries utf-8 text payloads — real decode must
    refuse them with the codecs error, not silently fake anything.
    (Genuine real-decode coverage lives in tests/test_multimodal.py.)"""
    from udlang_spark.operators import multimodal
    from udlang_spark.sources.tables import load_table

    docs = multimodal.attach_payload(load_table(spark, "documents", SF_DIR_CORRECTNESS))
    with pytest.raises(Exception, match="unrecognized media magic"):
        multimodal.decode_images(docs, decode_mode="real").collect()


def test_frame_sampling_shape(spark):
    from udlang_spark.operators import multimodal
    from udlang_spark.sources.tables import load_table

    docs = multimodal.attach_payload(load_table(spark, "documents", SF_DIR_CORRECTNESS))
    frames = multimodal.sample_frames(docs, n_frames=3)
    got = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in got)


def test_ivf_recall_vs_brute_force(spark):
    """IVF with n_probe=6 of 16 cells should recover most true neighbors;
    n_probe=n_cells would be exact."""
    exact = {
        (r.vec_id, r.nbr)
        for r in llm.QUERIES["e_cosine_topk"](spark, SF_DIR_CORRECTNESS).collect()
        if r.rnk <= 3
    }
    approx = {
        (r.vec_id, r.nbr)
        for r in llm.QUERIES["e_ivf_ann"](spark, SF_DIR_CORRECTNESS).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, f"IVF recall too low: {recall:.2f}"


def test_scrub_removes_urls_and_emails(spark):
    """clean_text scrub on crafted rows (the driver corpus has no URLs, so
    this is pytest- rather than oracle-checked)."""
    from udlang_spark.functions import text as TXT

    df = spark.createDataFrame(
        [
            ("see https://example.com/x?q=1 and mail bob@corp.io  now",),
            ("no noise   here",),
            ("two urls http://a.io https://b.io and a@b.co c@d.org",),
        ],
        "text string",
    )
    rows = df.select(*TXT.scrub("text")).collect()
    assert rows[0].cleaned == "see and mail now"
    assert (rows[0].n_urls, rows[0].n_emails) == (1, 1)
    assert rows[1].cleaned == "no noise here"
    assert (rows[1].n_urls, rows[1].n_emails) == (0, 0)
    assert rows[2].cleaned == "two urls and"
    assert (rows[2].n_urls, rows[2].n_emails) == (2, 2)


def test_kmeans_matches_numpy_reference(spark):
    """The distributed k-means loop equals a single-machine numpy
    implementation with identical rules (round-6 cosine, first-max argmax,
    fixed-point centroid means) — exact, not approximate."""
    import numpy as np

    from udlang_spark.operators.similarity import kmeans_assign
    from udlang_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, "embeddings", sf)
    got = {
        r.vec_id: (r.centroid, r.cos_sim)
        for r in kmeans_assign(emb, "embedding", "vec_id", k=8, n_iter=3).collect()
    }

    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xn = np.sqrt((X * X).sum(axis=1))
    C = X[np.argsort(ids)[:8]].copy()
    for _ in range(3):
        Cn = np.sqrt((C * C).sum(axis=1))
        cos = np.round(X @ C.T / Xn[:, None] / Cn[None, :], 6)
        best = np.argmax(cos, axis=1)
        newC = C.copy()
        for c in range(8):
            mask = best == c
            if mask.any():
                s = np.round(X[mask] * 1e6).sum(axis=0)
                newC[c] = s / 1e6 / mask.sum()
        C = newC
    expect = {
        int(i): (int(b), float(np.take_along_axis(cos, best[:, None], 1).ravel()[j]))
        for j, (i, b) in enumerate(zip(ids, best))
    }
    assert got == expect


def test_pagerank_matches_numpy(spark):
    """Distributed PageRank equals a dense numpy power iteration to 1e-9
    (same damping, dangling redistribution, and iteration count)."""
    import numpy as np
    from pyspark.sql import functions as F

    from udlang_spark.operators import graph
    from udlang_spark.operators import similarity
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    edges_df = similarity.cosine_topk(emb, "embedding", "vec_id", k=3).select(
        F.col("vec_id").alias("src"), F.col("nbr").alias("dst")
    )
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    got = {
        r["id"]: r["rank"]
        for r in graph.pagerank(edges_df, n_iter=10, damping=0.85).collect()
    }

    ids = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(10):
        dangling = r[out_deg == 0].sum()
        inflow = np.zeros(n)
        for s, t in edges:
            inflow[idx[t]] += r[idx[s]] / out_deg[idx[s]]
        r = (1.0 - d) / n + d * (inflow + dangling / n)
    assert abs(sum(got.values()) - 1.0) < 1e-6
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9


def test_semdedup_matches_numpy_reference(spark):
    """semantic_dedup equals a single-machine reference with identical
    rules: the pytest-verified kmeans assignment, then within-cluster
    round-6 cosine >= threshold against any lower id drops the row."""
    import numpy as np

    from udlang_spark.operators.dedup import semantic_dedup
    from udlang_spark.sources.tables import load_table

    sf = SF_DIR_CORRECTNESS
    emb = load_table(spark, "embeddings", sf)
    got = {
        r.vec_id: (r.centroid, r.keep)
        for r in semantic_dedup(
            emb, "embedding", "vec_id", k=8, n_iter=3, threshold=0.5
        ).collect()
    }

    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xn = np.sqrt((X * X).sum(axis=1))
    C = X[np.argsort(ids)[:8]].copy()
    for _ in range(3):
        Cn = np.sqrt((C * C).sum(axis=1))
        cos = np.round(X @ C.T / Xn[:, None] / Cn[None, :], 6)
        best = np.argmax(cos, axis=1)
        newC = C.copy()
        for c in range(8):
            mask = best == c
            if mask.any():
                newC[c] = np.round(X[mask] * 1e6).sum(axis=0) / 1e6 / mask.sum()
        C = newC
    pair_cos = np.round(X @ X.T / Xn[:, None] / Xn[None, :], 6)
    expect = {}
    for j, i in enumerate(ids):
        mates = (best == best[j]) & (ids < i) & (pair_cos[j] >= 0.5)
        expect[int(i)] = (int(best[j]), not mates.any())
    assert got == expect
    assert any(not keep for _, keep in got.values())  # threshold actually fires


def test_ivf_matches_numpy_reference(spark):
    """The distributed IVF (route → per-cell GEMM → global window) equals a
    single-machine numpy replica of the same rules: centroids = first
    n_cells vectors by id, first-max cell assignment, stable-argsort probe
    set, round-6 cosine, (cos desc, nbr asc) top-k. Exact, not just recall."""
    import numpy as np

    from udlang_spark.operators.similarity import ivf_ann_topk
    from udlang_spark.sources.tables import load_table

    k, n_cells, n_probe = 5, 16, 6
    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    got = {
        (r.vec_id, r.rnk): (r.nbr, r.cos_sim)
        for r in ivf_ann_topk(
            emb, "embedding", "vec_id", k=k, n_cells=n_cells, n_probe=n_probe
        ).collect()
    }

    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xn = np.sqrt((X * X).sum(axis=1))
    C = X[:n_cells]
    Cn = np.sqrt((C * C).sum(axis=1))
    qc = X @ C.T / Xn[:, None] / Cn[None, :]
    member = np.argmax(qc, axis=1)
    probe = np.argsort(-qc, kind="stable", axis=1)[:, :n_probe]
    expected = {}
    for qi in range(len(ids)):
        cand = np.isin(member, probe[qi]) & (ids != ids[qi])
        cos = np.round(X[cand] @ X[qi] / Xn[cand] / Xn[qi], 6)
        c_ids = ids[cand]
        top = np.lexsort((c_ids, -cos))[:k]
        for rnk, t in enumerate(top, start=1):
            expected[(ids[qi], rnk)] = (c_ids[t], cos[t])
    assert len(got) == len(expected)
    for key, (nbr, cos) in expected.items():
        g_nbr, g_cos = got[key]
        assert g_nbr == nbr and abs(g_cos - cos) < 1e-9, (key, got[key], (nbr, cos))


def test_broadcast_guard_rejects_oversized_gemm(spark):
    """The exact GEMM scorers refuse to materialize a neighbor matrix
    beyond max_broadcast_rows — the 100 TB broadcast footgun is
    unrepresentable; the error routes to the LSH/IVF scale paths."""
    import pytest as _pytest

    from udlang_spark.operators.dedup import embedding_near_dups
    from udlang_spark.operators.similarity import cosine_topk
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    with _pytest.raises(ValueError, match="lsh_ann_topk"):
        cosine_topk(emb, "embedding", "vec_id", k=3, max_broadcast_rows=10)
    with _pytest.raises(ValueError, match="lsh_ann_topk"):
        embedding_near_dups(
            emb, "embedding", "vec_id", threshold=0.9, max_broadcast_rows=10
        )
    # an explicit candidate subset under the cap passes the guard
    cand = emb.limit(8)
    rows = cosine_topk(
        emb.limit(4), "embedding", "vec_id", k=3, candidates=cand,
        max_broadcast_rows=10,
    ).collect()
    assert len(rows) > 0


def test_lsh_near_dups_recall_vs_exact(spark):
    """The LSH-bucketed near-dup path must recover most pairs the exact
    GEMM scorer finds, with identical cosines on the pairs it does find."""
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in llm.QUERIES["e_near_dups"](spark, SF_DIR_CORRECTNESS).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in llm.QUERIES["e_near_dups_lsh"](spark, SF_DIR_CORRECTNESS).collect()
    }
    assert set(approx) <= set(exact)  # no false positives: same threshold math
    hit = set(exact) & set(approx)
    recall = len(hit) / max(len(exact), 1)
    assert recall > 0.5, f"LSH near-dup recall too low: {recall:.2f}"
    assert all(abs(exact[p] - approx[p]) < 1e-9 for p in hit)


def test_lsh_buckets_partition_invariant(spark):
    """Bucket assignment must be a pure function of the row — identical
    under any partitioning (the property that makes LSH results stable
    across retries, speculative execution, and cluster resizes)."""
    from udlang_spark.operators.similarity import lsh_bucket_rows
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    a = lsh_bucket_rows(emb.repartition(1), "embedding", "vec_id", 4, 64, 2)
    b = lsh_bucket_rows(emb.repartition(32), "embedding", "vec_id", 4, 64, 2)
    sa = {(r["id"], r["bucket"]) for r in a.select("id", "bucket").collect()}
    sb = {(r["id"], r["bucket"]) for r in b.select("id", "bucket").collect()}
    assert sa == sb and len(sa) == emb.count() * 2


def test_release_caches_unpersists(spark):
    """persist_tracked registers with the session cache registry and
    release_caches() actually drops the blocks."""
    from udlang_spark.session import persist_tracked, release_caches
    from udlang_spark.sources.tables import load_table

    df = persist_tracked(load_table(spark, "region", SF_DIR_CORRECTNESS))
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    release_caches()
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_operators_degenerate_inputs(spark):
    """Empty/degenerate inputs return empty results, never crash — library
    callers hit parameterizations the registry queries don't."""
    from udlang_spark.operators import dedup, graph, similarity

    emb = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [2.0] * 4)], "vec_id long, embedding array<double>"
    )
    empty = emb.filter("vec_id < 0")
    assert similarity.cosine_topk(empty, "embedding", "vec_id", k=2).count() == 0
    assert dedup.embedding_near_dups(empty, "embedding", "vec_id").count() == 0
    pr = graph.pagerank(spark.createDataFrame([], "src long, dst long"))
    assert pr.count() == 0 and pr.columns == ["id", "rank"]
    # k larger than the corpus still works (seeds reduce to what exists)
    assert similarity.kmeans_assign(emb, "embedding", "vec_id", k=8, n_iter=2).count() == 2


def test_operator_edge_semantics(spark):
    """Review-pass regression pins: fractional/negative range-join buckets,
    salted outer-join refusal, lang argmax, CC convergence refusal."""
    import pytest as _pytest

    from udlang_spark.functions import text as TXT
    from udlang_spark.operators import skew
    from udlang_spark.operators.dedup import connected_components
    from udlang_spark.operators.joins import range_join

    # fractional interval bounds and negative fractional points bucket right
    left = spark.createDataFrame([(1, 10.2), (2, -0.5)], "id long, p double")
    right = spark.createDataFrame(
        [("a", 9.5, 10.5), ("b", -50.0, 0.0)], "tag string, lo double, hi double"
    )
    got = {
        (r["id"], r["tag"])
        for r in range_join(left, "p", right, "lo", "hi", bucket_width=10).collect()
    }
    assert got == {(1, "a"), (2, "b")}

    # salted_join refuses join types the salt replication would corrupt
    ev = spark.createDataFrame([(1, 2)], "k long, v long")
    with _pytest.raises(ValueError, match="inner/left"):
        skew.salted_join(ev, ev, "k", how="full")

    # lang_predict is a true argmax: 1 German marker must not beat 5 Spanish
    row = (
        spark.createDataFrame([("der el la que los y",)], "text string")
        .select(*TXT.lang_scores("text"))
        .withColumn("predicted", TXT.lang_predict())
        .collect()[0]
    )
    assert row["score_es"] > row["score_de"] and row["predicted"] == "es"

    # connected_components refuses to return split components silently
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    comp = connected_components(chain, max_iter=20)
    assert {r["component"] for r in comp.collect()} == {0}


def test_connected_components_failure_leaves_no_cache(spark):
    """A job that fails inside the propagation loop must not leave the
    raw edges/labels persists in the CacheManager, where release_caches()
    cannot reach them."""
    from pyspark.sql import functions as F

    from udlang_spark.operators.dedup import connected_components
    from udlang_spark.session import release_caches

    release_caches()
    spark.catalog.clearCache()  # leftovers of earlier tests are not ours
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    pairs = spark.range(10).select(
        F.col("id").alias("doc_a"),
        F.when(F.col("id") == 7, F.raise_error(F.lit("bad pair")))
        .otherwise(F.col("id") + 1)
        .alias("doc_b"),
    )
    with pytest.raises(Exception, match="bad pair"):
        connected_components(pairs)
    assert cm.isEmpty()


def test_dedup_keeper_invariants(spark):
    """Exactly one keeper per component, and no cluster-mate strictly
    beats its keeper on (n_stop, n_words, -doc)."""
    from udlang_spark.queries import llm

    rows = llm.QUERIES["d_dedup_keeper"](spark, SF_DIR_CORRECTNESS).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    assert len(rows) == 500
    for comp, members in by_comp.items():
        keepers = [r for r in members if r["keeper"]]
        assert len(keepers) == 1, comp
        k = keepers[0]
        best = max(members, key=lambda r: (r["n_stop"], r["n_words"], -r["doc"]))
        assert k["doc"] == best["doc"]
    assert any(len(m) > 1 for m in by_comp.values())  # real clusters exist


def test_random_proj_preserves_neighborhoods(spark):
    """JL property check: ±1 sign projection 64→8 keeps nearby vectors
    nearby — top-1 exact cosine neighbors are recovered in the projected
    space's top-10 well above the 10/499 ≈ 0.02 chance level (deterministic
    corpus + md5 signs, so the measured recall is a constant: 0.212 at 16
    dims; the synthetic embeddings are near-isotropic, which caps it)."""
    import numpy as np

    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)

    proj = llm.QUERIES["e_random_proj"](spark, SF_DIR_CORRECTNESS).collect()
    by_id = {r.vec_id: [r[f"p{j}"] for j in range(16)] for r in proj}
    P = np.array([by_id[i] for i in ids])

    def topk(M, k):
        N = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = N @ N.T
        np.fill_diagonal(S, -2)
        return np.argsort(-S, axis=1)[:, :k]

    exact1 = topk(X, 1)[:, 0]
    proj10 = topk(P, 10)
    hits = sum(exact1[i] in proj10[i] for i in range(len(ids)))
    recall = hits / len(ids)
    assert recall > 0.12, f"projected recall@10 too low: {recall:.2f}"


def test_mmr_is_more_diverse_than_topk(spark):
    """MMR's defining property: the selected set trades relevance for
    diversity. Over the 4 fixed queries, the mean pairwise cosine among
    MMR's 5 picks must not exceed the mean among the plain top-5-by-rel,
    and rank 1 must equal the relevance argmax (no penalty term yet)."""
    import numpy as np

    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    rows = emb.select("vec_id", "embedding").collect()
    vec = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}

    def cosm(ids):
        X = np.array([vec[i] for i in ids])
        n = np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        S = (X / n) @ (X / n).T
        iu = np.triu_indices(len(ids), 1)
        return float(S[iu].mean())

    mmr = llm.QUERIES["e_mmr_rerank"](spark, SF_DIR_CORRECTNESS).collect()
    topk = llm.QUERIES["e_cosine_topk"](spark, SF_DIR_CORRECTNESS).collect()
    by_q = {}
    for r in mmr:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    top_by_q = {}
    for r in sorted(topk, key=lambda r: (r.vec_id, r.rnk)):
        # collect() order is a plan artifact — sort by rank explicitly
        if r.vec_id in by_q and r.rnk <= 5:
            top_by_q.setdefault(r.vec_id, []).append(r.nbr)
    assert set(by_q) == {0, 1, 2, 3}
    for q, picks in by_q.items():
        picks.sort()
        assert [p[0] for p in picks] == [1, 2, 3, 4, 5]
        sel = [p[1] for p in picks]
        # rank 1 == relevance argmax == brute-force nearest neighbor
        assert sel[0] == top_by_q[q][0]
        assert cosm(sel) <= cosm(top_by_q[q]) + 1e-12, q


def test_pq_encode_matches_numpy_and_compresses(spark):
    """PQ codes equal an exact numpy argmin per subspace (round-6,
    lowest-id ties), recon_err equals the sum of the four chosen
    sub-distances, and quantizing to the NEAREST codeword beats a fixed
    wrong codeword on average — the property that makes the code usable."""
    import numpy as np

    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    by_pos = {ids[i]: i for i in range(len(ids))}
    C = np.array([X[by_pos[i]] for i in range(16)])

    got = {
        r.vec_id: (r.c0, r.c1, r.c2, r.c3, r.recon_err)
        for r in llm.QUERIES["e_pq_encode"](spark, SF_DIR_CORRECTNESS).collect()
    }
    worse = 0.0
    for vid, i in by_pos.items():
        recon = 0.0
        codes = []
        for s in range(4):
            d = np.round(
                ((X[i, s * 16 : (s + 1) * 16] - C[:, s * 16 : (s + 1) * 16]) ** 2).sum(
                    -1
                ),
                6,
            )
            c = int(np.argmin(d))
            codes.append(c)
            recon += d[c]
            worse += d[(c + 7) % 16] - d[c]
        g = got[vid]
        assert tuple(codes) == g[:4], vid
        assert abs(recon - g[4]) < 1e-9, vid
    assert worse > 0  # nearest beats an arbitrary offset codeword overall


def test_pq_adc_lookup_machinery_exact_and_useful(spark):
    """ADC distances equal an exact numpy table-lookup reference (the
    lookup machinery is exact GIVEN the codes — quantization is the only
    approximation), and aggregate recall@10 of exact-L2 neighbors is well
    above the 0.02 chance level (0.325 measured with the fixed-seed
    codebooks; production would k-means-train them)."""
    import numpy as np

    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    rows = emb.select("vec_id", "embedding").collect()
    by_id = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    C = np.array([by_id[i] for i in range(16)])

    codes = {
        r.vec_id: (r.c0, r.c1, r.c2, r.c3)
        for r in llm.QUERIES["e_pq_encode"](spark, SF_DIR_CORRECTNESS).collect()
    }
    adc = llm.QUERIES["e_pq_adc"](spark, SF_DIR_CORRECTNESS).collect()
    hits = total = 0
    sel = {}
    for r in adc:
        q = by_id[r.query_id]
        expect = 0.0
        for s in range(4):
            d = np.round(
                ((q[s * 16 : (s + 1) * 16] - C[:, s * 16 : (s + 1) * 16]) ** 2).sum(-1),
                6,
            )
            expect += d[codes[r.vec_id][s]]
        assert abs(expect - r.adc_dist) < 1e-9, (r.query_id, r.vec_id)
        sel.setdefault(r.query_id, set()).add(r.vec_id)
    ids = sorted(by_id)
    X = np.array([by_id[i] for i in ids])
    for qid, chosen in sel.items():
        d = ((X - by_id[qid]) ** 2).sum(1)
        d[ids.index(qid)] = np.inf
        exact = {ids[i] for i in np.argsort(d)[:10]}
        hits += len(exact & chosen)
        total += 10
    assert hits / total > 0.2, f"ADC recall too low: {hits / total:.2f}"


def test_pq_codes_are_positions_for_sparse_codebooks(spark):
    """Codes are POSITIONS in the id-sorted codebook, not codebook-row ids
    (review finding: the two coincide only for the default contiguous
    0..15 ids). With ids (3, 7, 42) every code must be in {0, 1, 2}."""
    from udlang_spark.operators import similarity
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    out = similarity.pq_encode(
        emb, "embedding", "vec_id", n_subspaces=4, codebook_ids=(3, 7, 42)
    ).collect()
    assert len(out) > 0
    for r in out:
        for s in range(4):
            assert 0 <= r[f"c{s}"] <= 2, r


def test_cms_never_underestimates(spark):
    """The CMS guarantee: est >= exact for every probe (collisions only
    ADD), with equality for probes whose buckets happen collision-free;
    at least one probe must estimate exactly at this vocab size."""
    rows = llm.QUERIES["t_cms_freq"](spark, SF_DIR_CORRECTNESS).collect()
    assert len(rows) == 10
    assert all(r.overest >= 0 for r in rows)
    assert all(r.est >= r.exact for r in rows)
    assert any(r.overest == 0 for r in rows)


def test_hll_registers_merge_by_max(spark):
    """HLL mergeability: registers built on two disjoint halves of the
    corpus and merged by MAX equal the whole-corpus registers — the
    property that lets partial sketches combine across partitions, days,
    or streams (the distinct-count analogue of the CMS sum-merge)."""
    from pyspark.sql import functions as F

    from udlang_spark.functions.text import ALNUM_WORDS_SQL
    from udlang_spark.operators import sketches
    from udlang_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_DIR_CORRECTNESS)
    toks = docs.select(
        "doc_id", F.explode(F.expr(ALNUM_WORDS_SQL)).alias("key")
    )
    bucket, rank = sketches.hll_bucket_rank(F.col("key"))
    cells = toks.select("doc_id", bucket, rank)

    def regs(rel):
        return {
            r["bucket"]: r["r"]
            for r in rel.groupBy("bucket").agg(F.max("rank").alias("r")).collect()
        }

    whole = regs(cells)
    a = regs(cells.where(F.col("doc_id") % 2 == 0))
    b = regs(cells.where(F.col("doc_id") % 2 == 1))
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == whole


def test_hll_estimate_accuracy(spark):
    """The bigram-domain estimate (raw harmonic regime) lands within 10%
    of exact; the token-domain estimate (linear-counting regime) within
    25% — the standard error bands for m=64 registers."""
    from udlang_spark.queries import llm as llm_q

    rows = {
        (r["lang"], r["kind"]): r
        for r in llm_q.t_hll_distinct(spark, SF_DIR_CORRECTNESS).collect()
    }
    for (lang, kind), r in rows.items():
        tol = 0.10 if kind == "bigram" else 0.25
        assert abs(r["hll_est"] - r["distinct_exact"]) <= tol * r["distinct_exact"], (
            lang, kind, r["hll_est"], r["distinct_exact"],
        )


def test_quantile_histogram_merges_by_sum(spark):
    """Histogram-quantile mergeability: bucket counts from two disjoint
    halves sum to the whole-corpus histogram — the property that lets
    per-partition/per-day histograms combine exactly (SUM-merge, like the
    CMS; the HLL is the MAX-merge sibling)."""
    from pyspark.sql import functions as F

    from udlang_spark.operators import sketches
    from udlang_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", SF_DIR_CORRECTNESS)
    b = F.floor(
        F.col("l_extendedprice").cast("double") / F.lit(float(sketches.QSK_WIDTH))
    ).cast("long")

    def hist(rel):
        return {
            r["bucket"]: r["n"]
            for r in rel.groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    whole = hist(li)
    a = hist(li.where(F.col("l_orderkey") % 2 == 0))
    c = hist(li.where(F.col("l_orderkey") % 2 == 1))
    merged = {k: a.get(k, 0) + c.get(k, 0) for k in set(a) | set(c)}
    assert merged == whole


def test_kmv_estimates_near_exact(spark):
    """KMV distinct estimates land within the sketch's standard error
    (~1/sqrt(k−1) ≈ 8.9% at k=128; assert 3σ) of the exact distinct token
    counts, and the Jaccard estimate is within 0.25 of exact Jaccard —
    the accuracy witness for t_kmv_jaccard (exact distinct is the
    full-shuffle work the sketch replaces, so it lives here, not in the
    oracled query)."""
    from pyspark.sql import functions as F

    from udlang_spark.functions import text as TXT
    from udlang_spark.operators import sketches
    from udlang_spark.queries import llm as llm_q
    from udlang_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_DIR_CORRECTNESS)

    def tokens(lang):
        return {
            r["tok"]
            for r in docs.where(F.col("lang") == lang)
            .select(F.explode(TXT.words(F.col("text"))).alias("tok"))
            .distinct()
            .collect()
        }

    en, de = tokens("en"), tokens("de")
    row = llm_q.t_kmv_jaccard(spark, SF_DIR_CORRECTNESS).collect()[0]
    rel_err = 3 * (sketches.KMV_K - 1) ** -0.5
    assert abs(row["est_en"] - len(en)) <= rel_err * len(en), (
        row["est_en"],
        len(en),
    )
    assert abs(row["est_de"] - len(de)) <= rel_err * len(de), (
        row["est_de"],
        len(de),
    )
    exact_j = len(en & de) / len(en | de)
    assert abs(row["jaccard_est"] - exact_j) <= 0.25, (
        row["jaccard_est"],
        exact_j,
    )


def test_quantile_sketch_accuracy(spark):
    """Every estimated quantile lands within half a bucket width of the
    exact interpolated percentile (the sketch's resolution bound). The
    exact witness is full-sort-class work the sketch replaces, so it lives
    here (with_exact=True) and not in the oracled headline query."""
    from pyspark.sql import functions as F

    from udlang_spark.operators import sketches
    from udlang_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", SF_DIR_CORRECTNESS)
    price = F.col("l_extendedprice").cast("double")
    hist = li.groupBy(
        F.floor(price / F.lit(float(sketches.QSK_WIDTH))).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    rep = sketches.quantile_probe_report(spark, hist, li, with_exact=True)
    rows = rep.collect()
    assert len(rows) == 3
    for r in rows:
        assert abs(r["err"]) <= sketches.QSK_WIDTH / 2, (r["q"], r["err"])


def test_weighted_sample_bias_and_partition_invariance(spark):
    """Priority sampling must (a) overrepresent heavy docs — the sample's
    mean weight exceeds the corpus mean — and (b) be a pure function of
    the data: the same sample under any repartitioning."""
    from pyspark.sql import functions as F

    from udlang_spark.queries import llm as llm_q
    from udlang_spark.sources.tables import load_table

    got = llm_q.t_weighted_sample(spark, SF_DIR_CORRECTNESS).collect()
    docs = load_table(spark, "documents", SF_DIR_CORRECTNESS)
    corpus_avg = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_avg = sum(r["weight"] for r in got) / len(got)
    assert sample_avg > corpus_avg

    base = {(r["doc_id"], r["priority"]) for r in got}
    # partition invariance: the operator applied to a re-shuffled input
    shuffled = docs.repartition(13, "lang")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))),
            1, 8,
        ), 16, 10,
    ).cast("long")
    prio = (
        F.col("n_chars").cast("double") * F.lit(float(2**32))
        / (h + 1).cast("double")
    )
    again = {
        (r["doc_id"], r["priority"])
        for r in shuffled.select(
            "doc_id", F.col("n_chars").alias("weight"),
            F.round(prio, 4).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), F.col("doc_id"))
        .limit(llm_q._WSAMPLE_K)
        .collect()
    }
    assert again == base


def test_pca_project_matches_numpy_and_is_orthonormal(spark):
    """pca_project equals a straight numpy PCA over the same data (exact
    integer Gram → same covariance → same eigh, sign-fixed), projections
    are centered, and per-component variances come out in descending
    order matching the top eigenvalues."""
    import numpy as np

    from udlang_spark.operators import similarity
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    k = 6
    got = {
        r["vec_id"]: np.array(r["proj"])
        for r in similarity.pca_project(emb, "embedding", "vec_id", k=k).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = [r["vec_id"] for r in rows]

    scale = float(2**similarity._PCA_SCALE_BITS)
    Q = np.floor(X * scale)
    G = Q.T @ Q
    n = len(X)
    mean_q = Q.sum(axis=0) / n
    cov = (G / n - np.outer(mean_q, mean_q)) / (scale * scale)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order]
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    comps = comps * flip[None, :]
    want = (X - mean_q / scale) @ comps

    P = np.stack([got[i] for i in ids])
    assert np.allclose(P, want, atol=1e-9)
    # centered projections, descending variance, matching eigenvalues
    assert np.allclose(P.mean(axis=0), 0.0, atol=1e-6)
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(k - 1))
    assert np.allclose(var, np.sort(w)[::-1][:k], rtol=1e-6)
    # components orthonormal
    assert np.allclose(comps.T @ comps, np.eye(k), atol=1e-9)


def test_retrieval_eval_metrics_bounded_and_self_perfect(spark):
    """Metric sanity: all metrics in [0,1]; corpus-average recall matches
    the LSH recall the r5 pytest measured (>0.4); and evaluating the
    exact ranking against itself scores a perfect 1.0 everywhere."""
    from pyspark.sql import functions as F

    from udlang_spark.operators import similarity
    from udlang_spark.queries import llm as llm_q
    from udlang_spark.sources.tables import load_table

    rows = llm_q.t_retrieval_eval(spark, SF_DIR_CORRECTNESS).collect()
    assert len(rows) == 500
    for r in rows:
        for m in ("recall", "mrr", "ndcg"):
            assert 0.0 <= r[m] <= 1.0
    avg_recall = sum(r["recall"] for r in rows) / len(rows)
    assert avg_recall > 0.4

    # self-evaluation: exact vs exact is perfect by construction
    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    exact = similarity.cosine_topk(emb, "embedding", "vec_id", k=llm_q._EVAL_K)
    disc = F.element_at(
        F.array(*[F.lit(x) for x in llm_q._EVAL_DISC]), F.col("rnk")
    )
    per_q = (
        exact.select("vec_id", "rnk", disc.alias("disc"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("rnk").alias("first_hit"),
            F.round(F.sum("disc") / F.lit(llm_q._EVAL_IDCG), 6).alias("ndcg"),
        )
        .collect()
    )
    assert all(
        r["n_hits"] == llm_q._EVAL_K and r["first_hit"] == 1 and r["ndcg"] == 1.0
        for r in per_q
    )


def test_incremental_dedup_suppresses_history_and_batch_copies(spark):
    """Constructed corpus exercising every branch the sf0.01 driver data
    cannot (it has no cross-set duplicates): a batch doc whose text exists
    in history is suppressed, within-batch copies collapse to the min-id
    keeper, and the Bloom-pruned result EQUALS the plain anti-join (zero
    false negatives by construction)."""
    from pyspark.sql import functions as F

    from udlang_spark.functions.text import fingerprint
    from udlang_spark.operators import dedup

    history = spark.createDataFrame(
        [(1, "seen before"), (2, "also  SEEN before"), (3, "unrelated")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "seen before"),        # exact history dup -> suppressed
            (11, "also seen  BEFORE"),  # normalized history dup -> suppressed
            (12, "fresh text"),         # admitted
            (13, "fresh text"),         # within-batch copy of 12
            (14, "another fresh"),      # admitted
        ],
        "doc_id long, text string",
    )
    got = {
        r["keeper"]: r["n_batch_copies"]
        for r in dedup.incremental_dedup(history, batch, "text", "doc_id").collect()
    }
    assert got == {12: 2, 14: 1}

    # bloom prune == plain anti-join, also at adversarially tiny m_bits
    # (high false-positive rate): FPs cost extra joined rows, never results
    tiny = dedup.incremental_dedup(
        history, batch, "text", "doc_id", m_bits=32, k_hashes=1
    )
    plain = (
        batch.select(F.col("doc_id").alias("_id"), fingerprint("text").alias("fp"))
        .join(
            history.select(fingerprint("text").alias("fp")).distinct(),
            "fp",
            "left_anti",
        )
        .groupBy("fp")
        .agg(F.min("_id").alias("keeper"), F.count(F.lit(1)).alias("n_batch_copies"))
    )
    assert sorted(map(tuple, tiny.collect())) == sorted(map(tuple, plain.collect()))


def test_canonical_url_rules(spark):
    """Each canonicalization rule on a constructed URL set: fragment,
    scheme, host case, www., trailing slash, tracking params, param
    order."""
    from udlang_spark.functions.url import canonical_url

    cases = [
        ("https://www.Ex.COM/a/b/?utm_source=x&id=2&ref=h#frag", "ex.com/a/b?id=2"),
        ("http://ex.com/a/b?id=2", "ex.com/a/b?id=2"),          # same page
        ("HTTPS://EX.com/a/b/#x", "ex.com/a/b"),                # no params
        ("ex.com/a/b", "ex.com/a/b"),                           # schemeless
        ("https://ex.com", "ex.com"),                           # bare host
        ("https://ex.com/?b=2&a=1", "ex.com?a=1&b=2"),          # param sort
        ("https://ex.com/p?utm_campaign=c&fbclid=z&gclid=y", "ex.com/p"),
        ("https://ex.com/p///", "ex.com/p"),                    # slash runs
    ]
    df = spark.createDataFrame(cases, "url string, expect string")
    rows = df.select("url", "expect", canonical_url("url").alias("got")).collect()
    for r in rows:
        assert r["got"] == r["expect"], (r["url"], r["got"], r["expect"])


def test_dsir_select_prefers_target_like_docs(spark):
    """Constructed corpus: raw docs written in the target domain's
    vocabulary must come back selected; raw docs in disjoint vocabulary
    must not; empty docs score 0/unselected. (B=1024 buckets over a
    handful of features — a collision flipping a sign would need two of
    these few distinct n-grams to share a bucket, checked none do.)"""
    from pyspark.sql import functions as F

    target_text = "alpha beta gamma alpha beta"
    rows = [(i, "tgt", target_text) for i in range(5)]
    rows += [(10 + i, "raw", "delta epsilon zeta delta") for i in range(5)]
    rows.append((20, "raw", target_text))  # target-like raw doc
    rows.append((21, "raw", ""))  # empty
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r
        for r in llm.dsir_select(docs, F.col("source") == "tgt").collect()
    }
    assert got[20]["selected"] and not got[20]["in_target"]
    assert got[20]["score"] > 0
    for i in range(5):
        assert got[10 + i]["selected"] is False
        assert got[10 + i]["score"] < 0
    assert (got[21]["n_feats"], got[21]["score"], got[21]["selected"]) == (
        0, 0, False,
    )


def test_incremental_neardup_rejects_edited_recrawl_admits_fresh(spark):
    """Constructed corpora: a batch doc that is a lightly-edited re-crawl
    of a history doc (high shingle overlap) is rejected with its jaccard
    reported; a disjoint-text batch doc is admitted; an exact within-batch
    twin of an admitted doc is ALSO admitted (within-batch collapse is
    minhash_dedup_corpus's job, pinned out of scope here)."""
    from udlang_spark.operators import dedup as D

    # 30 distinct words -> 28 distinct shingles; the 2-word edit adds 2:
    # jaccard = 28/30 ≈ 0.93 >= 0.8
    base = " ".join(f"word{i}" for i in range(30))
    edited = base + " tail clause"
    fresh = " ".join(f"other{i}" for i in range(30))
    history = spark.createDataFrame(
        [(1, base), (2, "unrelated history text entirely " * 4)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, edited), (11, fresh), (12, fresh)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in D.incremental_neardup(
            history, batch, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert not got[10]["admitted"]
    assert got[10]["n_hist_matches"] >= 1 and got[10]["max_jaccard"] >= 0.8
    for b in (11, 12):
        assert got[b]["admitted"]
        assert got[b]["n_hist_matches"] == 0 and got[b]["max_jaccard"] is None


def test_incremental_neardup_catches_planted_recrawls_at_sf001(spark):
    """The sf0.01 corpus plants ~25 near-dup pairs; those straddling the
    %5 batch/history split must be caught (non-trivial rejection set), and
    the no-false-rejection invariant holds: every rejection carries a
    verified jaccard >= threshold."""
    rows = llm.QUERIES["d_incremental_neardup"](spark, SF_DIR_CORRECTNESS).collect()
    rejected = [r for r in rows if not r["admitted"]]
    assert len(rejected) >= 5
    assert all(
        r["max_jaccard"] >= 0.8 and r["n_hist_matches"] >= 1 for r in rejected
    )
    assert all(
        r["n_hist_matches"] == 0 and r["max_jaccard"] is None
        for r in rows
        if r["admitted"]
    )


def test_semdedup_cluster_cap_engages_on_skew(spark):
    """VERDICT r8 #1b: the Σ|cluster|² bound must be ENFORCED, not prose.
    Constructed skew: 90 identical vectors (one mega-cluster) + 6 mutually
    dissimilar ones. With max_cluster_size=30 the mega-cluster is split
    into rank blocks of ≤30 (rank = (cos_sim, vec_id); identical vectors
    tie on cos_sim so blocks are consecutive id ranges), the compare never
    sees a block over the cap, and each block keeps its min id — 3 keepers
    instead of the uncapped 1. The cap must NOT change results when no
    cluster exceeds it, and the output `centroid` stays the ORIGINAL
    cluster id either way."""
    import math

    from udlang_spark.operators.dedup import semantic_dedup

    dim = 8
    mega = [(i, [1.0, 2.0, 3.0, 4.0] + [0.0] * (dim - 4)) for i in range(90)]
    # 6 pairwise-orthogonal-ish vectors, far from the mega direction
    lone = [
        (90 + j, [0.0] * 4 + [math.cos(j), math.sin(j), 1.0 + j, -float(j)])
        for j in range(6)
    ]
    # seeds are the first k=2 ids: id 0 (mega direction) and id 1 — make
    # id 1 a lone-direction vector so the two clusters separate
    rows = [mega[0], (1, lone[0][1])] + [
        (i + 2, v) for i, (_, v) in enumerate(mega[1:] + lone[1:])
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")

    def run(cap):
        return {
            r.vec_id: (r.centroid, r.keep)
            for r in semantic_dedup(
                df, "vec", "vec_id", k=2, n_iter=2, threshold=0.99,
                max_cluster_size=cap,
            ).collect()
        }

    uncapped = run(None)
    capped = run(30)
    mega_ids = sorted(i for i, (c, _) in uncapped.items() if c == uncapped[0][0])
    assert len(mega_ids) == 90
    # uncapped: one keeper in the mega-cluster
    assert [i for i in mega_ids if uncapped[i][1]] == [mega_ids[0]]
    # capped: one keeper per rank block of 30
    expect_keepers = [mega_ids[0], mega_ids[30], mega_ids[60]]
    assert [i for i in mega_ids if capped[i][1]] == expect_keepers
    # original centroid ids survive the sub-split; non-mega rows unchanged
    assert {i: c for i, (c, _) in capped.items()} == {
        i: c for i, (c, _) in uncapped.items()
    }
    for i in set(uncapped) - set(mega_ids):
        assert capped[i] == uncapped[i]
    # a cap that nothing exceeds is a no-op
    assert run(200) == uncapped


def test_semdedup_subsplit_key_no_collision_with_cluster_zero(spark):
    """ADVICE r9 (high): the sub-split pack key must not collide with plain
    centroid ids when the OVERSIZED cluster is centroid 0. The old packing
    centroid·2^32 + sub yields 0,1,2,… for centroid 0 — the same values
    non-oversized clusters keep — so mega sub-block 1 merged with cluster 1
    in the compare. Constructed trap: 90 identical vectors along m (cluster
    0, oversized at cap 30 → sub-blocks {0,2..30}, {31..60}, {61..90}) plus
    ONE vector d with cos(d, m) ≈ 0.995 ≥ threshold 0.99 seeding its own
    singleton cluster 1 (cos(d, c1) = 1 keeps it there; mega stays at c0
    since cos(m, d) < 1). Correct: mega keeps one row per sub-block (ids 0,
    31, 61) and d keeps. Colliding packing: every block-1 row sees lower-id
    d at 0.995 ≥ threshold and drops — block 1 loses its keeper."""
    import math

    import numpy as np

    from udlang_spark.operators.dedup import semantic_dedup

    m = np.array([1.0, 2.0, 3.0, 4.0, 0.0, 0.0, 0.0, 0.0])
    m_hat = m / np.linalg.norm(m)
    u = np.array([0.0] * 4 + [1.0, 0.0, 0.0, 0.0])  # orthogonal to m
    cos_t = 0.995
    d = cos_t * m_hat + math.sqrt(1.0 - cos_t * cos_t) * u
    rows = [(0, [float(x) for x in m]), (1, [float(x) for x in d])] + [
        (i, [float(x) for x in m]) for i in range(2, 91)
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    got = {
        r.vec_id: (r.centroid, r.keep)
        for r in semantic_dedup(
            df, "vec", "vec_id", k=2, n_iter=2, threshold=0.99,
            max_cluster_size=30,
        ).collect()
    }
    mega_ids = [0] + list(range(2, 91))
    assert all(got[i][0] == got[0][0] for i in mega_ids)
    assert got[1][0] != got[0][0]  # d is its own cluster
    assert got[1][1] is True  # singleton cluster: nothing to drop it
    # one keeper per rank block — id 31 is the one the collision killed
    assert [i for i in mega_ids if got[i][1]] == [0, 31, 61]


def test_ngram_jaccard_refuses_oversized_block(spark):
    """VERDICT r8 #2: ngram_jaccard_pairs is the exact-SMALL-block tool;
    it must refuse a block over max_block_docs with the scale path named
    (mirroring e_near_dups' broadcast refusal) instead of silently going
    quadratic — and stay unchanged when every block is under the cap."""
    import pytest

    from udlang_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, "the quick brown fox jumps over the lazy dog again", "en")
            for i in range(8)] + [(100, "completely different text entirely", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(df, "text", "doc_id", "lang", max_block_docs=5)
    ok = ngram_jaccard_pairs(
        df, "text", "doc_id", "lang", threshold=0.5, max_block_docs=8
    ).collect()
    assert len(ok) == 28  # 8 identical docs: all C(8,2) pairs at jaccard 1.0


def _neardup_idx_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    edit = base.replace("runs far", "sprints very far")
    rows = [
        (1, base, ), (2, "completely unrelated text about parquet files and shuffles",),
        (3, "a third document with its own distinct words entirely",),
        (4, edit,),  # near-dup of 1 (small edit)
        (10, base,),  # batch: exact text of history doc 1
        (11, "novel batch document sharing nothing with history",),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_neardup_index_append_equals_rebuild(spark, tmp_path):
    """Appending a batch into a persisted near-dup index produces a
    bit-identical index to rebuilding from scratch over the union — band
    keys and shingles are pure per-doc md5 functions, so the append path
    may never recompute (or drift from) history."""
    from udlang_spark.operators import dedup

    docs = _neardup_idx_corpus(spark).filter("doc_id < 10")
    grown, rebuilt = str(tmp_path / "grown"), str(tmp_path / "rebuilt")
    dedup.write_neardup_index(docs.filter("doc_id <= 2"), "text", "doc_id", grown)
    dedup.append_to_neardup_index(docs.filter("doc_id > 2"), "text", "doc_id", grown)
    dedup.write_neardup_index(docs, "text", "doc_id", rebuilt)
    def canon(row):
        return tuple(
            tuple(v) if isinstance(v, list) else v for v in row
        )

    for sub in ("/bands", "/shingles"):
        a = {canon(r) for r in spark.read.parquet(grown + sub).collect()}
        b = {canon(r) for r in spark.read.parquet(rebuilt + sub).collect()}
        assert a == b, sub
    assert a  # shingles non-empty: the comparison compared something


def test_neardup_index_probe_matches_inplan(spark, tmp_path):
    """probe_neardup_index over a persisted index == incremental_neardup
    over the same (history, batch) — the index is an execution layout,
    not a semantic change. Includes an empty-history index: every batch
    doc admitted (the explicit-schema read path)."""
    from udlang_spark.operators import dedup

    corpus = _neardup_idx_corpus(spark)
    hist, batch = corpus.filter("doc_id < 10"), corpus.filter("doc_id >= 10")
    path = str(tmp_path / "idx")
    dedup.write_neardup_index(hist, "text", "doc_id", path)
    got = {
        tuple(r)
        for r in dedup.probe_neardup_index(
            spark, path, batch, "text", "doc_id", threshold=0.8
        ).collect()
    }
    expect = {
        tuple(r)
        for r in dedup.incremental_neardup(
            hist, batch, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert got == expect
    assert any(not admitted for (_, _, _, admitted) in got)  # doc 10 caught
    assert any(admitted for (_, _, _, admitted) in got)  # doc 11 admitted

    emptyp = str(tmp_path / "empty_idx")
    dedup.write_neardup_index(hist.filter("doc_id < 0"), "text", "doc_id", emptyp)
    all_admitted = dedup.probe_neardup_index(
        spark, emptyp, batch, "text", "doc_id", threshold=0.8
    ).collect()
    assert len(all_admitted) == 2 and all(r.admitted for r in all_admitted)


def test_shard_plan_deterministic_uniform_and_census(spark):
    """round-10 t_shard_plan invariants: assignment is a pure function of
    (id, salt) — identical across runs, a fresh permutation per salt;
    shards cover [0, n); the census pins the full within-shard order and
    partitions the corpus exactly."""
    from udlang_spark.operators.indexing import shard_census, shard_plan

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a1 = {tuple(r) for r in shard_plan(docs, "doc_id", n_shards=8).collect()}
    a2 = {tuple(r) for r in shard_plan(docs, "doc_id", n_shards=8).collect()}
    assert a1 == a2 and len(a1) == 500
    assert all(0 <= s < 8 and 0 <= k < 2**48 for (_, s, k) in a1)
    # uniformity sanity: no shard is empty or hogs the corpus at n=500/8
    from collections import Counter

    per = Counter(s for (_, s, _) in a1)
    assert len(per) == 8 and max(per.values()) < 3 * min(per.values())
    # a different salt is a DIFFERENT permutation of the same rows
    b = {tuple(r) for r in shard_plan(docs, "doc_id", n_shards=8,
                                      salt="epoch2").collect()}
    assert {i for (i, _, _) in b} == {i for (i, _, _) in a1}
    assert b != a1
    # census: counts partition the corpus; per-shard permutation witness
    # equals a driver-side reconstruction
    cen = {r["shard"]: r for r in shard_census(
        shard_plan(docs, "doc_id", n_shards=8), "doc_id").collect()}
    assert sum(r["n_rows"] for r in cen.values()) == 500
    import hashlib

    by_shard: dict = {}
    for i, s, k in sorted(a1, key=lambda t: (t[1], t[2], t[0])):
        by_shard.setdefault(s, []).append(str(i))
    for s, ids in by_shard.items():
        expect = hashlib.md5(",".join(ids).encode()).hexdigest()
        assert cen[s]["perm_md5"] == expect
        assert cen[s]["n_rows"] == len(ids)


def test_e_ann_recall_histogram_consistency(spark):
    """The in-plan recall histogram must equal the recall computed
    set-wise from the two underlying queries it composes."""
    exact = [
        (r.vec_id, r.nbr)
        for r in llm.QUERIES["e_cosine_topk"](spark, SF_DIR_CORRECTNESS).collect()
    ]
    approx = {
        (r.vec_id, r.nbr)
        for r in llm.QUERIES["e_ivf_ann"](spark, SF_DIR_CORRECTNESS).collect()
    }
    from collections import Counter

    hits: Counter = Counter()
    vecs = set()
    for v, n in exact:
        vecs.add(v)
        if (v, n) in approx:
            hits[v] += 1
    expect = Counter(round(hits[v] / 5.0, 2) for v in vecs)
    got = {
        r.recall_at_5: r.n_queries
        for r in llm.QUERIES["e_ann_recall"](spark, SF_DIR_CORRECTNESS).collect()
    }
    assert got == dict(expect)
    assert sum(got.values()) == len(vecs)


def test_maxsim_matches_python_replica(spark):
    """t_maxsim_topk vs an independent pure-Python MaxSim implementation
    (hashlib embeddings, numpy-free) over the same parquet — catches any
    divergence between engine md5/round semantics and the intended math."""
    import math
    import re

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR_CORRECTNESS}/documents.parquet").to_pydict()
    qvecs = [
        [similarity.maxsim_qvec(t) for t in q.split()]
        for q in similarity.MAXSIM_QUERIES
    ]
    scores: dict[int, list[float]] = {}
    for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
        toks = sorted(set(re.findall(r"[a-z0-9]+", text.lower())))
        if not toks:
            continue
        dvs = [similarity.maxsim_qvec(t) for t in toks]  # same family as doc side
        per_q = []
        for qts in qvecs:
            total = 0.0
            for qv in qts:
                nqq = sum(c * c for c in qv)
                best = None
                for dv in dvs:
                    naa = sum(c * c for c in dv)
                    if naa > 0:
                        cos = round(
                            sum(a * b for a, b in zip(dv, qv))
                            / (math.sqrt(naa) * math.sqrt(nqq)),
                            6,
                        )
                    else:
                        cos = 0.0
                    best = cos if best is None or cos > best else best
                total = total + best
            per_q.append(total)
        scores[doc_id] = per_q
    expect = set()
    for qi in range(len(similarity.MAXSIM_QUERIES)):
        ranked = sorted(scores, key=lambda d: (-scores[d][qi], d))[
            : similarity.MAXSIM_TOPK
        ]
        for rnk, d in enumerate(ranked, 1):
            expect.add((qi, d, round(scores[d][qi], 6), rnk))
    got = {
        (r.qid, r.doc_id, round(r.score, 6), r.rnk)
        for r in llm.QUERIES["t_maxsim_topk"](spark, SF_DIR_CORRECTNESS).collect()
    }
    assert got == expect


def test_msim_embedding_golden_pin():
    """The MaxSim token-embedding derivation is a STORAGE contract: the
    streaming twin persists (doc_id, maxima) parquet, so a silent change
    to the digest/window scheme would make old artifacts disagree with
    new queries. Golden values pin the exact derivation (one md5 per
    token, 8 disjoint 16-bit hex windows, % 2001 - 1000)."""
    assert similarity.maxsim_qvec("hash") == [
        591, 50, 518, -833, 366, -769, -193, -312
    ]
    assert similarity.maxsim_qvec("join") == [
        350, 6, 658, 107, -305, 609, -723, -562
    ]


def test_e_ivfpq_recall_arms(spark):
    """Both arms cover the same panel, and exact rerank can only improve
    on raw ADC recall (it re-scores a SUPERSET of the ADC top-5 with the
    exact metric) — pinned on the deterministic fixture."""
    rows = llm.QUERIES["e_ivfpq_recall"](spark, SF_DIR_CORRECTNESS).collect()
    arms: dict[str, dict[float, int]] = {}
    for r in rows:
        arms.setdefault(r.arm, {})[r.recall_at_5] = r.n_queries
    assert set(arms) == {"adc", "rerank"}
    n_adc = sum(arms["adc"].values())
    n_rr = sum(arms["rerank"].values())
    assert n_adc == n_rr > 0

    def mean(h: dict[float, int]) -> float:
        return sum(k * v for k, v in h.items()) / sum(h.values())

    assert mean(arms["rerank"]) >= mean(arms["adc"])


def test_e_ivfpq_recall_histogram_consistency(spark):
    """The ADC arm's in-plan histogram must equal the recall computed
    set-wise from the exact top-5 and the probe path it composes
    (the e_ann_recall consistency pattern, least(5, n_exact) denominator)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from udlang_spark.operators import ann_index, similarity
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    panel = emb.filter(F.col("vec_id") < llm._ANN_RECALL_PANEL)
    path = ann_index.ivfpq_ensure_index(spark, SF_DIR_CORRECTNESS)
    exact = [
        (r.vec_id, r.nbr)
        for r in similarity.cosine_topk(
            panel, "embedding", "vec_id", k=5, candidates=emb
        ).collect()
    ]
    approx = {
        (r.query_id, r.vec_id)
        for r in ann_index.probe_ivfpq_index(
            spark, path, panel, "embedding", "vec_id", k=5, n_probe=6
        ).collect()
    }
    hits: Counter = Counter()
    n_exact: Counter = Counter()
    for v, n in exact:
        n_exact[v] += 1
        if (v, n) in approx:
            hits[v] += 1
    expect = Counter(
        round(hits[v] / min(5, n_exact[v]), 2) for v in n_exact
    )
    got = {
        r.recall_at_5: r.n_queries
        for r in llm.QUERIES["e_ivfpq_recall"](spark, SF_DIR_CORRECTNESS).collect()
        if r.arm == "adc"
    }
    assert got == dict(expect)
    assert sum(got.values()) == len(n_exact)


def test_retrieval_pipeline_card(spark):
    """t_retrieval_pipeline semantics pins: the plan cache returns the
    same DataFrame per (session, corpus); every served candidate came
    from at least one arm with full provenance; rnk is dense 1..n in
    (maxsim desc, ...) order."""
    from udlang_spark.session import plan_cache

    plan_cache.clear()
    a = llm.QUERIES["t_retrieval_pipeline"](spark, SF_DIR_CORRECTNESS)
    b = llm.QUERIES["t_retrieval_pipeline"](spark, SF_DIR_CORRECTNESS)
    assert a is b
    rows = a.collect()
    assert 0 < len(rows) <= 10
    assert all(r.lex_rank is not None or r.vec_rank is not None for r in rows)
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    ms = [r.maxsim for r in rows]
    assert ms == sorted(ms, reverse=True)
    # a candidate with no scoreable chunk has the sentinel pointer and a
    # zero score; anything else carries a real passage pointer
    assert all(r.maxsim == 0.0 for r in rows if r.best_chunk_idx == -1)


def test_retrieval_pipeline_caches_fresh_build_once(spark, tmp_path, monkeypatch):
    """The first call after a fresh IVF-PQ build caches its plan under the
    build's generation, not the pre-build -1: the second call is a hit
    and the session holds one retrieval_pipeline entry."""
    import tempfile

    from udlang_spark.session import release_caches

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    plan_cache.clear()
    a = llm.QUERIES["t_retrieval_pipeline"](spark, SF_DIR_CORRECTNESS)
    b = llm.QUERIES["t_retrieval_pipeline"](spark, SF_DIR_CORRECTNESS)
    assert a is b
    keys = [k for k in plan_cache._per[spark] if k[0] == "retrieval_pipeline"]
    assert len(keys) == 1
    # the cached plan and its pins read the index under tmp_path
    plan_cache.clear()
    release_caches()


def _maxsim_vocab_model(texts, min_df):
    """Pure-Python MaxSim-with-learned-vocab model: per-doc DISTINCT
    tokens, vocab = doc-frequency >= min_df, OOV tokens dropped BEFORE
    scoring, docs with no in-vocab token absent from the result."""
    import math
    import re
    from collections import Counter

    doc_toks = {
        i: sorted(set(re.findall(r"[a-z0-9]+", t.lower())))
        for i, t in enumerate(texts)
    }
    df = Counter(t for toks in doc_toks.values() for t in toks)
    vocab = {t for t, n in df.items() if n >= min_df}
    qvecs = [
        [similarity.maxsim_qvec(t) for t in q.split()]
        for q in similarity.MAXSIM_QUERIES
    ]
    scores = {}
    for i, toks in doc_toks.items():
        dvs = [similarity.maxsim_qvec(t) for t in toks if t in vocab]
        if not dvs:
            continue  # all-OOV doc leaves the result (inner join)
        per_q = []
        for qts in qvecs:
            total = 0.0
            for qv in qts:
                nqq = sum(c * c for c in qv)
                best = None
                for dv in dvs:
                    naa = sum(c * c for c in dv)
                    cos = (
                        round(
                            sum(a * b for a, b in zip(dv, qv))
                            / (math.sqrt(naa) * math.sqrt(nqq)),
                            6,
                        )
                        if naa > 0
                        else 0.0
                    )
                    best = cos if best is None or cos > best else best
                total = total + best
            per_q.append(total)
        scores[i] = per_q
    expect = set()
    for qi in range(len(similarity.MAXSIM_QUERIES)):
        ranked = sorted(scores, key=lambda d: (-scores[d][qi], d))[
            : similarity.MAXSIM_TOPK
        ]
        for rnk, d in enumerate(ranked, 1):
            expect.add((qi, d, round(scores[d][qi], 6), rnk))
    return expect


def test_maxsim_vocab_oov_fuzz_family(spark):
    """Differential fuzz over t_maxsim_vocab's OOV seam (r12 VERDICT #6):
    random corpora where some tokens fall below the df threshold — a
    silent inner-join->left-join drift (all-OOV docs surviving with NULL
    maxima) or a df-counting drift (per-occurrence instead of per-doc)
    diverges from the Python model. Tokens include the query terms, OOV
    singletons, and docs that are entirely OOV."""
    import random

    from udlang_spark.queries import llm as L

    pool = [
        "hash", "join", "scan", "stream", "window",  # query-term overlap
        "alpha", "beta", "gamma",  # common fillers
        "zz1", "zz2", "zz3", "zz4", "zz5",  # likely-OOV singletons
    ]
    rng = random.Random(13)
    for trial in range(8):
        n = rng.randrange(2, 9)
        texts = []
        for _ in range(n):
            k = rng.randrange(0, 7)
            texts.append(" ".join(rng.choice(pool) for _ in range(k)))
        if trial == 0:
            texts = ["zz1", "zz2 zz3", ""]  # every doc all-OOV at df>=2
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            (r.qid, r.doc_id, round(r.score, 6), r.rnk)
            for r in L._maxsim_vocab_core(docs, min_df=2).collect()
        }
        assert got == _maxsim_vocab_model(texts, 2), (trial, texts)


def test_maxsim_vocab_min_df1_equals_topk(spark):
    """Scored-dictionary equivalence (r12 VERDICT #6): with min_df=1 the
    learned-vocab path IS t_maxsim_topk — every corpus token is in-vocab,
    so the dictionary join, maxima, and top-k agree row-for-row."""
    import random

    from udlang_spark.queries import llm as L

    rng = random.Random(31)
    pool = ["hash", "join", "scan", "alpha", "beta", "zz1", "zz2", "n0"]
    texts = [
        " ".join(rng.choice(pool) for _ in range(rng.randrange(0, 8)))
        for _ in range(12)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    vocab_rows = {
        tuple(r) for r in L._maxsim_vocab_core(docs, min_df=1).collect()
    }
    topk_rows = {tuple(r) for r in L._maxsim_topk_core(docs).collect()}
    assert vocab_rows == topk_rows and len(vocab_rows) > 0


def test_maxsim_plan_cache_identity(spark):
    """The analyzed-plan cache is load-bearing for the bench row (stable
    exprIds -> codegen-cache hits): same (session, corpus) must return
    the SAME DataFrame object; clearing the cache returns a fresh one
    with identical results."""
    plan_cache.clear()
    a = llm.QUERIES["t_maxsim_topk"](spark, SF_DIR_CORRECTNESS)
    b = llm.QUERIES["t_maxsim_topk"](spark, SF_DIR_CORRECTNESS)
    assert a is b
    plan_cache.clear()
    c = llm.QUERIES["t_maxsim_topk"](spark, SF_DIR_CORRECTNESS)
    assert c is not a
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, c.collect()))


def test_clf_weight_blob_matches_per_bucket_md5():
    """r13: t_classifier_score's per-gram weight md5 moved off the row
    path — the 4096-entry weight table is derived once driver-side and
    shipped as one binary literal. The blob must encode EXACTLY the
    md5("w:" + bucket) % (2W+1) - W derivation the oracle still computes
    per gram; a packing/offset bug would shift every weight and still
    produce plausible-looking scores."""
    import hashlib

    blob = llm._clf_weight_blob()
    W = llm._CLF_WSCALE
    assert len(blob) == 2 * llm._CLF_BUCKETS
    for b in range(llm._CLF_BUCKETS):
        want = (
            int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16)
            % (2 * W + 1)
            - W
        )
        got = int.from_bytes(blob[2 * b : 2 * b + 2], "big") - W
        assert got == want, f"bucket {b}: blob={got} md5={want}"


@pytest.mark.parametrize(
    "name",
    [
        "e_ivfpq_ann",
        "e_ivfpq_append",
        "d_neardup_index",
        "d_incremental_neardup",
        "e_hamming_topk",
    ],
)
def test_probe_plan_cache_identity(spark, name):
    """r13: the persisted-index probe queries plan-cache their result per
    (session, corpus fingerprint, index path) — the t_maxsim/recall-card
    idiom. Same (session, corpus) must return the SAME DataFrame object
    (stable exprIds -> codegen-cache hits); clearing the cache returns a
    fresh plan with identical results, proving the cache only amortizes
    construction, never changes what is computed."""
    from udlang_spark.session import plan_cache, release_caches

    plan_cache.clear()
    release_caches()
    a = llm.QUERIES[name](spark, SF_DIR_CORRECTNESS)
    b = llm.QUERIES[name](spark, SF_DIR_CORRECTNESS)
    assert a is b
    rows_a = sorted(map(tuple, a.collect()))
    plan_cache.clear()
    release_caches()
    c = llm.QUERIES[name](spark, SF_DIR_CORRECTNESS)
    assert c is not a
    assert rows_a == sorted(map(tuple, c.collect()))
    assert len(rows_a) > 0


def test_plan_cache_working_set_fits_without_eviction(spark):
    """r13: the per-session plan cache's working set grew to 8 distinct
    keys — flush against the old MAX_PER_SESSION=8, where one more cached
    query would have silently FIFO-thrashed every earlier entry on each
    full pass (rebuild cost + exprId churn, invisible to correctness).
    Pin: after running every cache-using query, each still returns its
    ORIGINAL DataFrame object and the entry count stays under the cap."""
    from udlang_spark.session import plan_cache, release_caches

    plan_cache.clear()
    release_caches()
    names = [
        "e_ivfpq_ann",
        "e_ivfpq_append",
        "d_neardup_index",
        "d_incremental_neardup",
        "e_hamming_topk",
        "e_ann_recall",
        "t_maxsim_topk",
        "t_maxsim_vocab",
        "e_ivfpq_recall",
        "e_ivfpq_append_recall",
        "t_retrieval_pipeline",
        "t_hybrid_rrf",
    ]
    first = {}
    for n in names:
        first[n] = llm.QUERIES[n](spark, SF_DIR_CORRECTNESS)
        release_caches()
    n_keys = len(plan_cache._per.get(spark, {}))
    assert n_keys < plan_cache.MAX_PER_SESSION, (
        f"{n_keys} cache keys >= cap {plan_cache.MAX_PER_SESSION}: "
        "the next put would FIFO-evict a live entry"
    )
    # identity must hold for the queries that RETURN the cached object
    # (the others derive a fresh result from cached inner relations)
    for n in ["e_ivfpq_ann", "e_ivfpq_append", "d_neardup_index",
              "d_incremental_neardup", "e_hamming_topk", "t_maxsim_topk",
              "e_ivfpq_recall", "e_ivfpq_append_recall",
              "t_retrieval_pipeline"]:
        assert llm.QUERIES[n](spark, SF_DIR_CORRECTNESS) is first[n], n
        release_caches()


def test_probe_plan_cache_invalidated_by_rebuild(spark):
    """r13 ADVICE #2: a cached probe plan snapshots the index file listing
    at analysis time, so an in-session force_rebuild at the SAME path must
    be a cache MISS (the key now folds in the build marker's mtime_ns) —
    otherwise the cached plan would scan deleted/rewritten files."""
    from udlang_spark.operators import ann_index
    from udlang_spark.session import plan_cache, release_caches

    plan_cache.clear()
    release_caches()
    a = llm.QUERIES["e_ivfpq_ann"](spark, SF_DIR_CORRECTNESS)
    rows_a = sorted(map(tuple, a.collect()))
    ann_index.ivfpq_ensure_index(spark, SF_DIR_CORRECTNESS, force_rebuild=True)
    b = llm.QUERIES["e_ivfpq_ann"](spark, SF_DIR_CORRECTNESS)
    assert b is not a, (
        "rebuild at the same path must invalidate the cached probe plan"
    )
    assert rows_a == sorted(map(tuple, b.collect()))
    release_caches()


def test_persist_tracked_deduplicates(spark):
    """r13 ADVICE #3: plan-cache hits re-arm pins via persist_tracked on
    every call; in a serving session that never releases, the registry
    must not grow duplicate refs to the same DataFrame."""
    from udlang_spark import session as S

    S.release_caches()
    df = spark.range(5)
    assert S.persist_tracked(df) is df
    assert S.persist_tracked(df) is df  # second arm: no duplicate
    assert sum(1 for d in S._PERSISTED if d is df) == 1
    S.release_caches()
    assert S._PERSISTED == []
    # tracking works again in the next release window
    S.persist_tracked(df)
    assert sum(1 for d in S._PERSISTED if d is df) == 1
    S.release_caches()


def test_bloom_binary_literal_matches_python_bit_model(spark):
    """Differential family over the Bloom probe's REPRESENTATION seam
    (r13: the word table became one big-endian-packed BinaryType literal
    probed via byte-offset substring+hex+conv — a silent packing or
    offset bug would shift every probe and still 'look random'): for a
    diverse key domain (negative/huge ints, unicode incl. astral plane
    and combining marks, empty-ish strings) and every (m_bits, k_hashes)
    config, bloom_build's distributed word table and bloom_might_contain's
    per-row verdicts must equal a pure-Python md5 bit model, bit for bit
    and row for row — zero false negatives is then a corollary, not a
    sample."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    from udlang_spark.operators import bloom

    def model_positions(key: str, m_bits: int, k: int) -> list[int]:
        h = hashlib.md5(("bloom:" + key).encode("utf-8")).hexdigest()
        return [int(h[8 * i : 8 * i + 8], 16) % m_bits for i in range(k)]

    def model_words(keys: list[str], m_bits: int, k: int) -> list[int]:
        words = [0] * (m_bits // 32)
        for key in keys:
            for p in model_positions(key, m_bits, k):
                words[p // 32] |= 1 << (p % 32)
        return words

    rng = random.Random(0xB100F)
    int_keys = (
        [0, 1, -1, 2**62, -(2**62)]
        + [rng.randint(-(2**40), 2**40) for _ in range(60)]
    )
    str_keys = [
        "", " ", "a", "clé", "́combining", "emoji \U0001f600 key",
        "多字节キー", "tab\tand\nnewline", "bloom:prefix-collision",
    ] + [f"k{rng.randint(0, 10**9)}" for _ in range(40)]

    for m_bits, k in ((32, 1), (256, 2), (4096, 3), (262144, 4)):
        # --- int keys: dim = half the keys, probe = all of them ---
        dim_keys = int_keys[::2]
        dim = spark.createDataFrame([(v,) for v in dim_keys], "key long")
        words = bloom.bloom_build(dim, "key", m_bits, k)
        assert words == model_words([str(v) for v in dim_keys], m_bits, k)

        probe = spark.createDataFrame([(v,) for v in int_keys], "key long")
        got = {
            r["key"]: r["hit"]
            for r in probe.select(
                "key",
                bloom.bloom_might_contain(
                    F.col("key"), words, k
                ).alias("hit"),
            ).collect()
        }
        for v in int_keys:
            expect = all(
                (words[p // 32] >> (p % 32)) & 1
                for p in model_positions(str(v), m_bits, k)
            )
            assert got[v] == expect, (m_bits, k, v)
        for v in dim_keys:  # zero false negatives, structurally
            assert got[v], (m_bits, k, v)

        # --- unicode string keys through the same packed literal ---
        sdim_keys = str_keys[::2]
        sdim = spark.createDataFrame([(v,) for v in sdim_keys], "key string")
        swords = bloom.bloom_build(sdim, "key", m_bits, k)
        assert swords == model_words(sdim_keys, m_bits, k)

        sprobe = spark.createDataFrame([(v,) for v in str_keys], "key string")
        sgot = {
            r["key"]: r["hit"]
            for r in sprobe.select(
                "key",
                bloom.bloom_might_contain(
                    F.col("key"), swords, k
                ).alias("hit"),
            ).collect()
        }
        for v in str_keys:
            expect = all(
                (swords[p // 32] >> (p % 32)) & 1
                for p in model_positions(v, m_bits, k)
            )
            assert sgot[v] == expect, (m_bits, k, v)


def test_bloom_m_sizing_rule_matches_oracle_and_scales(duck):
    """q67's filter size is DERIVED from the dim count at plan time (the
    10x scale stress caught the frozen 262144 saturating at ~280k keys —
    96% fill, ~88% FP). Pin (1) the integer sizing rule against DuckDB's
    prm expression for counts spanning the floor, the r13 scales, and the
    10x regime, and (2) the FP budget: at m = 12n bits and k = 3 the
    expected false-positive rate stays ~1.1% at EVERY n, which is the
    whole point of sizing from data."""
    import math

    from udlang_spark.queries.relational import (
        _BLOOM_BITS_PER_KEY,
        _BLOOM_MIN_M,
        _bloom_m_for,
    )

    for n in (0, 1, 100, 341, 2129, 28000, 280000, 10**9):
        # {n}::BIGINT mirrors the real oracle, where the multiplicand is
        # a BIGINT count(*) (a bare int literal would overflow INT32)
        want = duck.sql(
            f"SELECT greatest({_BLOOM_MIN_M}, "
            f"(({_BLOOM_BITS_PER_KEY} * {n}::BIGINT + 31) // 32) * 32)"
        ).fetchone()[0]
        got = _bloom_m_for(n)
        assert got == want, (n, got, want)
        assert got % 32 == 0
        if got > _BLOOM_MIN_M:
            fp = (1.0 - math.exp(-3.0 * n / got)) ** 3
            assert fp < 0.02, (n, got, fp)
