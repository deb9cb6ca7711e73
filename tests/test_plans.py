"""Physical-plan audit (SURVEY.md §4, the 100 TB checklist): predicates and
projections reach the parquet scan, dimension joins broadcast, aggregations
have map-side partial phases, and kernels stay inside WholeStageCodegen."""

from __future__ import annotations

from tests.conftest import SF_DIR_CORRECTNESS
from udlang_spark.queries import kernels, relational


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def tree_node_count(plan: str, node: str) -> int:
    """Count `node` occurrences in the TREE section of a formatted plan
    (the indented sketch before the first blank line) — robust to how many
    times the detail section repeats each node name across Spark versions."""
    tree = plan.split("\n\n", 1)[0]
    return sum(1 for line in tree.splitlines() if node in line)


def test_q02_pushdown_and_pruning(spark):
    df = relational.QUERIES["q02_forecast_revenue"](spark, SF_DIR_CORRECTNESS)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_discount,0.02)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # column pruning: only the 5 needed columns are read
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_schema and "l_returnflag" not in read_schema


def test_q05_broadcasts_dimensions(spark):
    plan = plan_of(relational.QUERIES["q05_region_volume"](spark, SF_DIR_CORRECTNESS))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_q01_partial_aggregation(spark):
    plan = plan_of(relational.QUERIES["q01_pricing_summary"](spark, SF_DIR_CORRECTNESS))
    # two-phase agg: partial before the exchange, final after
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange") or plan.count(
        "HashAggregate"
    ) >= 2


def test_kernel_filter_pushdown(spark):
    plan = plan_of(kernels.QUERIES["k_filter"](spark, SF_DIR_CORRECTNESS))
    assert "GreaterThan(value,250.0)" in plan
    assert "Generate" not in plan  # fast path: no posexplode for if+out


def test_kernel_hello_column_pruning(spark):
    plan = plan_of(kernels.QUERIES["k_hello"](spark, SF_DIR_CORRECTNESS))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "lang" not in read_schema


def test_kernel_multi_out_single_generate(spark):
    plan = plan_of(kernels.QUERIES["k_count"](spark, SF_DIR_CORRECTNESS))
    assert plan.count("Generate (") == 1  # one posexplode tree node
    # row-local: no KEY shuffle. (A round-robin input fan-out may appear when
    # the source parquet has fewer splits than cores — see tables.fan_out.)
    assert "hashpartitioning" not in plan


def test_q18_asof_single_shuffle(spark):
    """Union+window as-of join: exactly one exchange (the window partition),
    no join node at all."""
    plan = plan_of(relational.QUERIES["q18_asof_join"](spark, SF_DIR_CORRECTNESS))
    assert "Join" not in plan  # union + window, not a range join
    assert plan.count("Exchange") <= 2  # hashpartition(user_id) (+AQE read)


def test_q21_range_join_not_nested_loop(spark):
    """Interval bucketing turns the range join into an equi-join."""
    plan = plan_of(relational.QUERIES["q21_range_join"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_salt_fanout_in_plan(spark):
    """The salted join's PLAN must show the mitigation: the right side
    fans out via explode(sequence(0, n_salts-1)) and the join keys carry
    _salt, so each hot left key hashes across n_salts reducers. (If a
    refactor dropped _salt from the join keys, results would still be
    correct but the hot key would re-collapse onto one reducer — only a
    plan assertion catches that.)"""
    from udlang_spark.operators import skew
    from udlang_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_DIR_CORRECTNESS).select(
        "event_id", "user_id"
    )
    users = ev.select("user_id").distinct()
    plan = plan_of(skew.salted_join(ev, users, "user_id", n_salts=8))
    # right-side salt replication: a Generate/explode producing _salt
    # (the literal sequence(0,7) is constant-folded into an array literal)
    gen_lines = [l for l in plan.splitlines() if "explode(" in l]
    assert gen_lines and any("_salt" in l for l in gen_lines)
    # the join hashes on (key, salt): every join-keys line carries _salt
    key_lines = [
        l for l in plan.splitlines()
        if ("Left keys" in l or "Right keys" in l)
    ]
    assert key_lines and all("_salt" in l for l in key_lines)
    assert all("user_id" in l for l in key_lines)


def test_salted_join_and_agg_equivalence(spark):
    from pyspark.sql import functions as F

    from udlang_spark.operators import skew
    from udlang_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_DIR_CORRECTNESS).select(
        "event_id", "user_id", "value"
    )
    users = (
        ev.groupBy("user_id").count().select("user_id", F.col("count").alias("n_ev"))
    )
    plain = ev.join(users, "user_id").agg(F.count(F.lit(1)), F.sum("n_ev")).collect()
    salted = (
        skew.salted_join(ev, users, "user_id", n_salts=8)
        .agg(F.count(F.lit(1)), F.sum("n_ev"))
        .collect()
    )
    assert plain == salted

    plain_agg = {
        r.user_id: (r.count_value, round(r.sum_value, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("count_value"), F.sum("value").alias("sum_value"))
        .collect()
    }
    got_agg = {
        r.user_id: (r.count_value, round(r.sum_value, 6))
        for r in skew.salted_agg(
            ev, "user_id", {"value": "sum", "event_id": "count"}, n_salts=8
        )
        .withColumnRenamed("count_event_id", "count_value")
        .collect()
    }
    assert plain_agg == got_agg


def test_bucketed_join_has_no_exchange(spark):
    """Co-bucketed tables join without any shuffle (SURVEY.md §2.5 —
    bucketing converts the join exchange into a co-partitioned read)."""
    from pyspark.sql import functions as F

    from udlang_spark.sources import bucketing
    from udlang_spark.sources.tables import load_table

    orders = load_table(spark, "orders", SF_DIR_CORRECTNESS)
    li = load_table(spark, "lineitem", SF_DIR_CORRECTNESS).select(
        "l_orderkey", "l_extendedprice"
    )
    bucketing.write_bucketed(
        orders.select("o_orderkey", "o_custkey"), "t_orders_b", "o_orderkey", 8
    )
    bucketing.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "t_lineitem_b", "o_orderkey", 8
    )
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    orig_bjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        j = bucketing.cobucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        # disable AQE (stable plan string) and broadcast (these test tables
        # are tiny; at scale the sides would exceed any broadcast threshold)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket co-location: zero shuffles
        # results still correct
        n_bucketed = j.count()
        n_plain = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
        assert n_bucketed == n_plain
    finally:
        # restore the CAPTURED originals — hardcoded restore values would
        # silently leak config changes if the session fixture's defaults
        # ever diverge from them
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_bjt)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_q27_grouping_sets_single_expand(spark):
    """GROUPING SETS compiles to ONE Expand feeding one two-phase aggregate
    — one scan and one shuffle no matter how many sets are listed."""
    plan = plan_of(relational.QUERIES["q27_grouping_sets"](spark, SF_DIR_CORRECTNESS))
    assert plan.count("Expand (") == 1  # tree lists each node once as "Name (id)"
    assert plan.count("Exchange (") <= 1  # one agg shuffle


def test_q28_pivot_no_discovery_pass(spark):
    """Declared pivot values: aggregation only (Spark plans pivot as a
    (year, priority) pre-aggregate feeding a pivotfirst aggregate — two
    shuffles), with no extra job or join to collect distinct pivot keys."""
    df = relational.QUERIES["q28_pivot"](spark, SF_DIR_CORRECTNESS)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("Exchange (") <= 2


def test_q29_window_frames_single_exchange(spark):
    """All four window functions share partitionBy(o_custkey): one exchange,
    with only re-sorts between the window nodes."""
    plan = plan_of(relational.QUERIES["q29_window_frames"](spark, SF_DIR_CORRECTNESS))
    assert plan.count("Exchange") <= 2


def test_q26_join_back_broadcasts_under_aqe(spark):
    """The decorrelated per-part aggregate (~|part| rows) should end up on
    the broadcast side of the join-back once AQE sees its true size."""
    df = relational.QUERIES["q26_small_qty_revenue"](spark, SF_DIR_CORRECTNESS)
    df.collect()  # run so AQE finalizes the adaptive plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed
    assert "SortMergeJoin" not in executed


def test_simhash_neardup_is_equi_join(spark):
    """Band bucketing keeps the near-dup search an equi-join — no all-pairs
    nested loop anywhere in the plan."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["d_simhash_neardup"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_assign_no_shuffle(spark):
    """Nearest-centroid assignment is a narrow mapInPandas over the input —
    zero exchanges (centroids travel as a broadcast variable)."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["e_centroid_assign"](spark, SF_DIR_CORRECTNESS))
    assert "Exchange" not in plan


def test_q41_argmin_is_single_aggregate(spark):
    """TPC-H Q2 shape: the correlated MIN subquery collapses into ONE hash
    aggregate — min(struct(price, suppkey)) is the argmin with tie-break,
    so there's no window sort, no rank filter, and no self-join; the
    supplier/nation joins broadcast."""
    plan = plan_of(relational.QUERIES["q41_min_cost_supplier"](spark, SF_DIR_CORRECTNESS))
    assert "Window" not in plan
    assert "hashpartitioning(l_partkey" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q42_total_is_broadcast(spark):
    """TPC-H Q11 shape: the global-total scalar subquery is a 1-row
    broadcast, not a shuffled join."""
    plan = plan_of(relational.QUERIES["q42_important_parts"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q44_fuzzy_join_is_blocked_equi_join(spark):
    """Levenshtein must run only inside the distinct-name cross join
    (|domain|² pairs, both inputs distinct-name HashAggregates); part rows
    re-attach via hash equi-joins — no nested loop ever sees a part row."""
    plan = plan_of(relational.QUERIES["q44_fuzzy_part_pairs"](spark, SF_DIR_CORRECTNESS))
    # formatted plans print each node twice (tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") == 2  # ONE node: names × names
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    assert plan.count("BroadcastHashJoin") >= 4  # TWO: name + (brand,name) attach


def test_q56_dims_filtered_before_fact_join(spark):
    """The two-nation filter must reach the supplier/customer sides before
    the fact joins (broadcast chains), leaving the orderkey join as the
    only wide exchange."""
    plan = plan_of(
        relational.QUERIES["q56_nation_trade_volume"](spark, SF_DIR_CORRECTNESS)
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "In(n_name, [NATION_1,NATION_2])" in plan  # pushed to nation scans


def test_q61_aggregates_before_joining(spark):
    """Q18 shape: the quantity rollup must run BEFORE any join (the
    HAVING survivor set then broadcasts) — lineitem never joins raw."""
    plan = plan_of(
        relational.QUERIES["q61_large_volume_customers"](spark, SF_DIR_CORRECTNESS)
    )
    # tree prints top-down: deeper index = executed earlier. The rollup
    # must sit BELOW (after, in text) the topmost join.
    first_join = plan.index("Join")
    assert plan.index("HashAggregate") > first_join
    assert "sum(cast(l_quantity" in plan  # the rollup is the quantity sum


def test_q62_single_fact_scan_two_level_rollup(spark):
    """Q20 shape: per-part totals come from a window over the (part,supp)
    rollup — exactly one lineitem scan (a rollup⋈re-agg self-join would
    scan and shuffle the fact twice); supplier via left-semi join."""
    import re

    plan = plan_of(
        relational.QUERIES["q62_dominant_suppliers"](spark, SF_DIR_CORRECTNESS)
    )
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2  # lineitem once, supplier once
    assert "LeftSemi" in plan


def test_q63_no_set_state_in_window(spark):
    """Running COUNT(DISTINCT) must compile to row_number + running sum —
    never collect_set (O(distinct) state per row in the frame walk)."""
    plan = plan_of(
        relational.QUERIES["q63_running_distinct"](spark, SF_DIR_CORRECTNESS)
    )
    assert "collect_set" not in plan
    assert plan.count("Window") >= 2


def test_q64_no_single_partition_sort(spark):
    """Global sequence ids must NOT plan a global sort: the only wide
    exchange is rangepartitioning; offsets come from a broadcast join."""
    plan = plan_of(relational.QUERIES["q64_global_seq"](spark, SF_DIR_CORRECTNESS))
    body = plan.split("(1) Scan parquet")[0]
    assert "rangepartitioning" in plan
    # r14: the per-partition local index is monotonically_increasing_id
    # bit arithmetic — the relation must not cross the Python boundary
    assert "MapInPandas" not in plan
    # the events-side plan must never be collapsed to one partition
    # (offsets aggregate over #partitions rows may be; events rows may not)
    assert "Sort [ts" not in body or "SinglePartition" not in body


def test_q45_stats_broadcast_back(spark):
    """Per-type moments are a tiny aggregate broadcast back to the fact —
    the events table is scanned, but joined without a fact-side shuffle."""
    plan = plan_of(relational.QUERIES["q45_zscore_outliers"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_pushes_projection(spark):
    """TF-IDF reads only doc_id + text."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_tfidf_topk"](spark, SF_DIR_CORRECTNESS))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "lang" not in read_schema


def test_int8_quantize_stats_broadcast(spark):
    """Per-dim min/max stats (64 rows) broadcast back to the exploded
    relation — the vector side never shuffles on the join key."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["e_int8_quantize"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontam_is_broadcast_probe(spark):
    """Benchmark decontamination must broadcast the benchmark gram set —
    the corpus side is never shuffled on gram keys; its only wide exchange
    is the final per-doc aggregation."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_decontam"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(doc" in plan


def test_corpus_pipeline_two_shuffles(spark):
    """The composed pipeline (langid -> quality -> dedup -> pack) costs
    exactly two wide exchanges: the fingerprint window and the source
    window. Gates are map-side filters; no join nodes anywhere."""
    import re

    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_corpus_pipeline"](spark, SF_DIR_CORRECTNESS))
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys == {"_w0", "source"}
    assert "Join" not in plan


def test_ivf_plan_is_distributed(spark):
    """e_ivf_ann's plan does the scoring on executors: the in-cell GEMM is a
    FlatMapGroupsInPandas after ONE hash exchange on the cell key (plus the
    final per-query window exchange) — the relation never routes through a
    driver-side collect the way a broadcast-index build would."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["e_ivf_ann"](spark, SF_DIR_CORRECTNESS))
    assert "FlatMapGroupsInPandas" in plan
    # formatted plans print each node twice (tree + details); count tree nodes
    assert plan.count("Exchange (") <= 2, plan


def test_bm25_no_vocabulary_shuffle(spark):
    """For a fixed query, BM25 computes per-doc tf/dl as scan-level array
    expressions: no explode (Generate), no vocabulary-keyed join of any
    kind; the only joins are the 1-row corpus-stats broadcast, and the
    top-20 is a TakeOrderedAndProject, not a global sort."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_bm25_topk"](spark, SF_DIR_CORRECTNESS))
    assert "Generate" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan  # zero wide exchanges on data keys


def test_domain_mix_quota_is_broadcast(spark):
    """The mixture recipe (weights × corpus totals) is a broadcast dim; the
    corpus side's only wide exchange is the per-source rank window."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_domain_mix"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_is_pure_map(spark):
    """PII scrubbing must ride along a scan: regexp Column work only —
    no exchange, no Python, at any corpus size."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_pii_scrub"](spark, SF_DIR_CORRECTNESS))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF fallback — stays JVM-side
    assert "codegen id" in plan  # whole-stage codegen spans the projections


def test_video_frames_no_shuffle(spark):
    """attach_video → sample_frames → decode_frame_digests are chained
    narrow mapInPandas stages: payload bytes never cross an exchange."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["m_video_frames"](spark, SF_DIR_CORRECTNESS))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") >= 3


def test_lsh_near_dups_single_bucket_shuffle(spark):
    """The LSH near-dup plan shuffles on bucket keys and dedups pairs —
    never a cartesian/broadcast-nested-loop pair join, and the bucket
    stage is one narrow GEMM mapInPandas."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["e_near_dups_lsh"](spark, SF_DIR_CORRECTNESS))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # GEMM bucket stage
    assert "FlatMapGroupsInPandas" in plan  # in-bucket scorer


def test_gopher_rules_pure_map(spark):
    """Quality-rule scoring must ride along a scan: Column folds over the
    token array only — no exchange, no Python worker, at any corpus size."""
    from udlang_spark.queries import cleaning

    plan = plan_of(cleaning.QUERIES["t_gopher_rules"](spark, SF_DIR_CORRECTNESS))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dedup_words_pure_map(spark):
    """Consecutive-duplicate collapse is row-local zip_with work: no
    exchange, no Python worker."""
    from udlang_spark.queries import cleaning

    plan = plan_of(cleaning.QUERIES["t_dedup_words"](spark, SF_DIR_CORRECTNESS))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_duplicate_spans_never_all_pairs(spark):
    """Duplicated-span stats shuffle on gram/doc keys only — no
    cartesian/nested-loop pair join anywhere in the plan."""
    from udlang_spark.queries import cleaning

    plan = plan_of(cleaning.QUERIES["d_duplicate_spans"](spark, SF_DIR_CORRECTNESS))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan  # shingle + agg work stays JVM-side


def test_wordpiece_segments_word_domain_only(spark):
    """The Python segmentation loop runs over the DISTINCT word domain
    (one MapInPandas downstream of the word agg), never over the corpus
    token stream; the corpus re-attaches via equi-join."""
    from udlang_spark.queries import cleaning

    plan = plan_of(cleaning.QUERIES["t_wordpiece"](spark, SF_DIR_CORRECTNESS))
    # one tree node ("MapInPandas (n)"); the bare name also appears once more
    # in the per-node detail section of the formatted plan
    assert plan.count("MapInPandas (") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mmr_corpus_never_shuffles_on_query_keys(spark):
    """e_mmr_rerank: relevance is a broadcast nested-loop against the |Q|
    query vectors (the corpus side stays map-local), the candidate cut is a
    narrow mapInPandas, and the ONLY hash exchange carries the
    ≤ n_candidates·n_batches·|Q| candidate rows into the per-query greedy
    (FlatMapGroupsInPandas). The corpus itself never hash-partitions onto
    the |Q| skew keys."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["e_mmr_rerank"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastNestedLoopJoin" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan
    # "- Exchange (" excludes BroadcastExchange (the |Q|-row dim build)
    assert plan.count("- Exchange (") <= 1, plan


def test_cms_probe_broadcasts_the_sketch(spark):
    """t_cms_freq: the sketch side of the probe join is a broadcast (d·w
    rows regardless of corpus size) and nothing sort-merge-joins — the
    corpus contributes only explode + partial-aggregated (row, bucket)
    counts."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_cms_freq"](spark, SF_DIR_CORRECTNESS))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hamming_topk_plan_pure_codegen(spark):
    """The signature scan must be pure JVM Column work: no Python eval
    nodes anywhere, the |Q| query signatures broadcast (the theta join is
    the intended bounded BroadcastNestedLoopJoin), and exactly one wide
    exchange (the per-query top-k window)."""
    from udlang_spark.operators import similarity
    from udlang_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR_CORRECTNESS)
    plan = plan_of(
        similarity.hamming_topk(emb, "embedding", "vec_id", (0, 1, 2, 3), k=5)
    )
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    assert "BroadcastNestedLoopJoin" in plan  # |Q|-bounded by construction


def test_bloom_semi_join_probe_rides_the_scan(spark):
    """The Bloom probe must add NO join and NO shuffle to the fact side:
    the filter is a literal-array Column predicate on the scan (the whole
    point — pruning before the fact table ever shuffles). Zero false
    negatives: every true semi-join key survives the filter."""
    from pyspark.sql import functions as F

    from udlang_spark.operators import bloom
    from udlang_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", SF_DIR_CORRECTNESS).select(
        "l_orderkey", "l_extendedprice"
    )
    dim = (
        load_table(spark, "orders", SF_DIR_CORRECTNESS)
        .where(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    pruned = bloom.bloom_semi_join(li, dim, "l_orderkey", m_bits=8192)
    plan = plan_of(pruned)
    assert "Join" not in plan
    assert "Exchange" not in plan

    passed = {r["l_orderkey"] for r in pruned.select("l_orderkey").collect()}
    true_keys = {
        r["l_orderkey"]
        for r in li.join(dim, "l_orderkey", "left_semi").collect()
    }
    assert true_keys <= passed  # no false negatives, ever
    assert len(passed) < li.count()  # and it actually prunes


def test_classifier_score_rides_the_scan(spark):
    """The hash-feature classifier forward pass must be pure Column work:
    no Python eval nodes, no weight-table join (weights are inline md5
    expressions), and the per-doc sum is the only exchange."""
    from udlang_spark.queries import llm as llm_q

    plan = plan_of(llm_q.t_classifier_score(spark, SF_DIR_CORRECTNESS))
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join"):
        assert bad not in plan
    assert plan.count("Exchange") <= 2  # hashpartition(doc_id) (+AQE read)


def test_zorder_cells_bound_both_dims(spark):
    """Z-order locality (q71): every 16×16 z-cell's zone map is tight in
    BOTH dimensions at once — max extent ≤ 15 per dim — which is what
    makes per-file min/max pruning effective on either column after a
    z-value sort. A 1-D sort by x gives the same bound only on x; its
    trailing-dim extents span (nearly) the whole y range. Also pins that
    the z-value is pure codegen: no Python eval nodes, one aggregate
    exchange."""
    from pyspark.sql import functions as F

    from udlang_spark.queries import relational as rel
    from udlang_spark.sources.tables import load_table

    cells = rel.q71_zorder_layout(spark, SF_DIR_CORRECTNESS)
    plan = plan_of(cells)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join"):
        assert bad not in plan

    rows = cells.collect()
    assert len(rows) > 10
    tile = 1 << (rel._Z_CELL_SHIFT // 2)
    for r in rows:
        assert r["x_max"] - r["x_min"] < tile, r
        assert r["y_max"] - r["y_min"] < tile, r

    # contrast: a 1-D sort on x leaves y unbounded — bin rows by x-ranges
    # of the same cell count and measure the y extent per bin
    li = load_table(spark, "lineitem", SF_DIR_CORRECTNESS)
    x = (F.col("l_partkey") % (1 << rel._Z_BITS)).cast("long")
    y = (F.col("l_suppkey") % (1 << rel._Z_BITS)).cast("long")
    onedim = (
        li.select((x / tile).cast("long").alias("xbin"), y.alias("y"))
        .groupBy("xbin")
        .agg((F.max("y") - F.min("y")).alias("y_extent"))
        .agg(F.max("y_extent").alias("worst"))
        .collect()[0]["worst"]
    )
    assert onedim >= tile  # 1-D layout cannot bound the second dimension


def test_interval_union_is_window_only(spark):
    """q72 must stay gaps-and-islands: no self-join, no explode — the
    quadratic-per-key and rows×duration alternatives it exists to avoid."""
    from udlang_spark.queries import relational as rel

    plan = plan_of(rel.q72_interval_union(spark, SF_DIR_CORRECTNESS))
    for bad in ("Join", "Generate", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan


def test_copurchase_pairs_join_is_basket_keyed(spark):
    """q73's self-join must be an equi-join on the basket key (hash or
    sort-merge), never a cartesian/nested-loop — the basket key is what
    bounds candidate pairs."""
    from udlang_spark.queries import relational as rel

    plan = plan_of(rel.q73_copurchase_pairs(spark, SF_DIR_CORRECTNESS))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_ahash_single_arrow_pass(spark):
    """m_ahash_dedup: synth + decode + fingerprint ride mapInPandas; the
    dup-count window is the only exchange consumer. Pixels must never
    appear in a shuffle — only (id, dims, hash) rows do."""
    from udlang_spark.queries import llm as llm_q

    plan = plan_of(llm_q.m_ahash_dedup(spark, SF_DIR_CORRECTNESS))
    # formatted plans print each node twice (tree + details): count tree
    # entries only — exactly two Python passes, payload synth + ahash
    assert plan.count("MapInPandas (") == 2
    assert "Join" not in plan


def test_negative_pairs_corpus_never_shuffles_wide(spark):
    """e_negative_pairs: the label-inequality join must be the broadcast
    nested-loop with the TINY query side broadcast (4 rows) — never a
    cartesian, never a shuffle of the candidate corpus onto skew keys.
    r8: the |Q|-key row_number window must be fed by the batch-local
    partial top-k prune (MapInPandas BELOW the window's exchange), so
    only ≤ k·n_batches·|Q| rows shuffle — exactly one hash exchange
    (the window) plus the final presentation sort's range exchange."""
    from udlang_spark.queries import llm as llm_q

    plan = plan_of(llm_q.e_negative_pairs(spark, SF_DIR_CORRECTNESS))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" in plan
    assert "MapInPandas" in plan
    # the prune must sit on the map side of the window's exchange: the
    # full candidate relation never shuffles onto the |Q| keys
    assert plan.index("MapInPandas") > plan.index("Window"), plan
    # exactly one hash exchange (the |Q|-key window over the pruned
    # relation); the only other exchange is the final sort's range part.
    assert plan.count("hashpartitioning") == 1, plan


def test_q70_join_itself_is_exchange_free(spark):
    """q70's OWN plan (through the cached bucketed tables) must join
    without a join-side Exchange — only the groupBy and final sort may
    shuffle. Pins the cache path: if the tableExists reuse ever returned
    non-bucketed tables, the join exchanges would reappear here."""
    from udlang_spark.queries import relational as rel

    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    orig_bjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = rel.q70_bucketed_join(spark, SF_DIR_CORRECTNESS)
        plan = plan_of(df)
        assert "SortMergeJoin" in plan
        # agg exchange + orderBy range exchange only — nothing feeding the join
        assert plan.count("Exchange (") <= 2, plan
    finally:
        # restore the captured originals, not hardcoded defaults
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_bjt)


def test_url_dedup_single_exchange_no_python(spark):
    """URL canonicalization is row-local regexp/array Column work inside
    codegen; the ONLY exchange is the final groupBy on the canonical key
    (count-distinct adds its partial under the same key, no extra
    shuffle key)."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["d_url_dedup"](spark, SF_DIR_CORRECTNESS))
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    # distinct-agg rewrite: partial (canon_url, url) + final canon_url
    assert plan.count("Exchange (") <= 2
    assert "Join" not in plan and "Generate" not in plan


def test_incremental_dedup_bloom_rides_history_scan(spark):
    """The history side of ingest dedup must carry the Bloom probe as a
    pure-Column predicate BEFORE any exchange — only possible-collision
    rows leave the scan. No Python nodes anywhere."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["d_incremental_dedup"](spark, SF_DIR_CORRECTNESS))
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan
    assert "shiftleft" in plan  # the literal-word-array probe predicate
    # probe is a scan-side Filter, not a join: the ONE join in the plan is
    # the exact anti-join that decides membership
    import re

    headers = re.findall(r"\(\d+\) \w*Join", plan)  # one detail block per join
    assert len(headers) == 1
    assert re.findall(r"Join type: (\w+)", plan) == ["LeftAnti"]


def test_line_dedup_line_key_shuffles_only_no_python(spark):
    """Boilerplate-line removal is pure Column/HOF work plus line-key and
    doc-key aggregates — no Python nodes, no nested-loop/cartesian join
    anywhere (the line join is an equi-join on the line string)."""
    from udlang_spark.queries import cleaning

    plan = plan_of(cleaning.QUERIES["d_line_dedup"](spark, SF_DIR_CORRECTNESS))
    for bad in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "CartesianProduct",
        "BroadcastNestedLoop",
    ):
        assert bad not in plan


def test_dsir_select_broadcasts_weights_no_python(spark):
    """DSIR selection: the 1024-row ±1 weight table joins back to the
    feature relation as a BROADCAST equi-join (never a shuffled or
    nested-loop join), and the whole pipeline is JVM Column work — no
    Python eval nodes anywhere."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_dsir_select"](spark, SF_DIR_CORRECTNESS))
    for bad in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "CartesianProduct",
        "BroadcastNestedLoop",
    ):
        assert bad not in plan
    assert "BroadcastHashJoin" in plan


def test_length_outliers_broadcasts_stats_no_python(spark):
    """Length-outlier screen: the per-stratum moments relation joins back
    as a BROADCAST equi-join; everything else is row-local Column algebra
    — no Python nodes, no nested-loop/cartesian joins."""
    from udlang_spark.queries import cleaning

    plan = plan_of(cleaning.QUERIES["t_length_outliers"](spark, SF_DIR_CORRECTNESS))
    for bad in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "CartesianProduct",
        "BroadcastNestedLoop",
    ):
        assert bad not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_neardup_band_equijoin_no_cartesian(spark):
    """Batch-vs-history admission: the cross-corpus contact point is an
    EQUI-join on the band key — no cartesian/nested-loop anywhere, no
    Python nodes; history text reaches only the verification join."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["d_incremental_neardup"](spark, SF_DIR_CORRECTNESS))
    for bad in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "CartesianProduct",
        "BroadcastNestedLoop",
    ):
        assert bad not in plan


def test_semdedup_assignment_cached_single_gemm(spark):
    """VERDICT r8 #1a: e_semdedup's k-means assignment GEMM (mapInPandas
    over the whole corpus) re-executed ~3x because neither the (id, vec)
    projection nor the final assignment was persisted. Both now are: the
    output plan must reference InMemoryTableScans, every MapInPandas
    occurrence must be the SAME node (the cached relation's definition,
    re-printed at each scan site) rather than distinct per-branch GEMMs,
    and it must sit inside an InMemoryRelation (i.e. only ever executed
    into the cache, never as a live branch)."""
    import re

    from udlang_spark.queries import llm

    df = llm.QUERIES["e_semdedup"](spark, SF_DIR_CORRECTNESS)
    plan = plan_of(df)
    assert "InMemoryTableScan" in plan
    gemm_ids = set(re.findall(r"MapInPandas \((\d+)\)", plan))
    assert len(gemm_ids) == 1, gemm_ids
    # the single GEMM node appears only beneath InMemoryRelation definitions:
    # every line mentioning it is deeper-indented than some relation header
    assert "InMemoryRelation" in plan.split("MapInPandas")[0]


def test_neardup_index_probe_prunes_band_partitions(spark, tmp_path):
    """The persisted near-dup index exists to make small-batch ingest
    probes cheap: the history bands scan must be pruned at PLAN time to
    the batch's band-key prefixes (PartitionFilters on bpfx), mirroring
    probe_ivf_index's cell pruning — and the plan must stay equi-join
    only (no NLJ/cartesian)."""
    from udlang_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"history document number {i} with words w{i} x{i} y{i} z{i}")
         for i in range(1, 40)],
        "doc_id long, text string",
    )
    # the batch must yield ≥1 candidate (a recrawl of history doc 1):
    # with ZERO candidates the dpfx prefix collect is empty and Catalyst
    # collapses the whole verify subtree to an all-admitted constant plan
    # (zero verify I/O — the right degenerate plan, but not the one under
    # test here)
    batch = spark.createDataFrame(
        [
            (100, "one small batch document probing the index"),
            (101, "history document number 1 with words w1 x1 y1 z1"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    dedup.write_neardup_index(hist, "text", "doc_id", path)
    df = dedup.probe_neardup_index(spark, path, batch, "text", "doc_id")
    plan = plan_of(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l and "bpfx" in l]
    assert pf and any("bpfx IN" in l or "bpfx#" in l for l in pf), plan[:2000]
    # r9 VERDICT #5: the shingles VERIFY scan must be pruned too. Fast
    # path (candidates under the cap): literal dpfx partition filter +
    # doc-id pushdown into the parquet scan, no extra plan subtrees.
    pfd = [l for l in plan.splitlines() if "PartitionFilters" in l and "dpfx" in l]
    assert pfd and any("IN" in l for l in pfd), plan[:2000]  # IN / INSET
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "In(doc" in l]
    assert pushed, plan[:2000]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # Fallback path (cap forced to 0): the scan is broadcast-SEMI-joined
    # on (doc, dpfx) against the candidate ids instead — bounded
    # broadcast, still no full-history row flow into the verify join.
    df2 = dedup.probe_neardup_index(
        spark, path, batch, "text", "doc_id", max_probe_candidates=0
    )
    plan2 = plan_of(df2)
    assert "LeftSemi" in plan2, plan2[:2000]
    assert "CartesianProduct" not in plan2 and "NestedLoop" not in plan2
    # both paths agree with each other
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, df2.collect()))


def test_shard_plan_census_single_exchange_no_python(spark):
    """t_shard_plan (round 10): the census is map-side assignment + ONE
    hash exchange on the shard key (partial agg collapses rows map-side);
    no Python eval nodes, no global sort, no window — the anti-patterns a
    naive shuffle (orderBy(rand()) / per-shard row_number) would show."""
    from udlang_spark.queries import llm

    df = llm.QUERIES["t_shard_plan"](spark, SF_DIR_CORRECTNESS)
    plan = plan_of(df)
    # exactly one shuffle for the shard-key aggregate (the trailing
    # orderBy adds a rangepartitioning exchange over 64 census rows —
    # exclude it by counting hashpartitioning exchanges only)
    # formatted-plan detail section: each Exchange's partitioning is on
    # its "Arguments:" line (the tree header is just "Exchange (n)")
    hash_ex = [
        l for l in plan.splitlines()
        if l.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(hash_ex) == 1, plan[:1500]
    for tok in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "Window", "CartesianProduct"):
        assert tok not in plan, tok


def test_maxsim_vocab_is_single_broadcast_dictionary_join(spark):
    """t_maxsim_vocab (r11 VERDICT #4): the learned-vocab dictionary probe
    must be ONE BroadcastHashJoin — the scored dictionary broadcasts, the
    occurrence relation probes — with no Python eval and no cartesian/
    nested-loop fallback anywhere in the plan."""
    from udlang_spark.queries import llm

    plan = plan_of(llm.QUERIES["t_maxsim_vocab"](spark, SF_DIR_CORRECTNESS))
    assert tree_node_count(plan, "BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def unique_nodes(plan: str) -> dict[str, int]:
    """Unique physical nodes by name from the detail section — shared
    cached lineage is printed once per consumer in the tree, so raw
    substring counts over-count; the `(id) Name` headers are unique."""
    import re
    from collections import Counter

    nodes = dict(re.findall(r"^\((\d+)\) ([A-Za-z][A-Za-z0-9 ]*)", plan, re.M))
    return Counter(name.strip() for name in nodes.values())


def test_retrieval_pipeline_plan_budget(spark):
    """t_retrieval_pipeline (r12 VERDICT #4): the five composed stages
    (BM25 arm, IVF-PQ ADC arm, RRF fusion, chunk explode, MaxSim rerank)
    must stay inside a fixed exchange budget with no Python eval and no
    undeclared nested-loop joins — the cross-operator regression a
    per-query audit can't see."""
    from udlang_spark.queries import llm
    from udlang_spark.session import plan_cache

    plan_cache.clear()
    plan = plan_of(
        llm.QUERIES["t_retrieval_pipeline"](spark, SF_DIR_CORRECTNESS)
    )
    nodes = unique_nodes(plan)
    assert nodes.get("CartesianProduct", 0) == 0
    assert not any("Python" in k or "Pandas" in k for k in nodes), nodes
    # exactly the ONE declared nested loop: the BM25 1-row stats sidecar
    assert nodes.get("BroadcastNestedLoopJoin", 0) == 1, nodes
    # the only sort-merge join is the full-outer RRF fusion of two
    # 20-row arms; everything corpus-sized joins by broadcast
    assert nodes.get("SortMergeJoin", 0) <= 2, nodes
    assert nodes.get("BroadcastHashJoin", 0) >= 4, nodes
    # total shuffle-exchange budget across all five stages
    assert nodes.get("Exchange", 0) <= 9, nodes


def test_maxsim_topk_scored_dictionary_shape(spark):
    """t_maxsim_topk (r12 derivation): cosines score the distinct-token
    vocabulary once and broadcast back — same single-dictionary-join
    contract as the learned-vocab variant."""
    from udlang_spark.queries import llm
    from udlang_spark.session import plan_cache

    plan_cache.clear()
    plan = plan_of(llm.QUERIES["t_maxsim_topk"](spark, SF_DIR_CORRECTNESS))
    assert tree_node_count(plan, "BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
