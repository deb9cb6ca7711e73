"""Query registry: every implemented operator from SURVEY.md §2 appears here
as a named query (Callable[(SparkSession, sf_dir)] -> DataFrame) plus, where
SQL-expressible, a DuckDB oracle SQL string producing identical columns.

Cross-engine determinism rules used throughout:
- money aggregates go through DECIMAL so sums are exact in both engines, then
  cast to double (correctly-rounded, deterministic) — no float-sum-order
  nondeterminism can leak into the hash;
- every top-k has a total-order tie-break;
- timestamps in outputs are formatted to strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from udlang_spark.queries import cleaning, kernels, llm, relational, streaming

QueryFn = Callable[[SparkSession, str], DataFrame]

_ALL_QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

for mod in (kernels, llm, streaming, relational, cleaning):
    _ALL_QUERIES.update(mod.QUERIES)
    ORACLE.update(mod.ORACLE)

# Registration order matters: the external driver differentially verifies the
# FIRST 50 registry entries against their DuckDB oracles each round.
# History: r3 relational q01-q50 (50/50). r4 kernel + oracled-LLM. r5 the
# 38 never-checked + mid-round additions (50/50). r6 49/50 (k_tower red,
# fixed r7). r7 50/50. r8-r13: 50/50 each; after r13 ALL 208 registered
# queries are green at their latest check (staleness histogram
# r9:9, r10:49, r11:50, r12:50, r13:50).
# Round-14 window (optimization round 2: changed code first, then the
# stalest blocks per r13 VERDICT #8):
#   (a) the 27 queries whose code paths this round touched — the
#       line-dedup positions-only rewrite, the banded-hamming gate that
#       was landed then REVERTED after the 10× stress (d_simhash_neardup
#       and m_ahash_neardup stay in-window to re-verify the revert), the
#       verified_jaccard build-side flip AND the wave-3 minhash
#       signature narrowing (d_minhash_lsh + the three
#       minhash_dedup_corpus consumers + d_incremental_neardup +
#       d_neardup_index), the inherited span/bigram min-max change, the
#       q67/t_wordpiece cache evictions, the q64 row-id rewrite, the
#       delta-merge sidecar (s_kmv_stream, s_cms_merge), and the wave-3
#       single-pass/shared-relation restructures (t_kmv_jaccard,
#       t_hll_distinct, t_cms_freq, t_rarity, q44_fuzzy_part_pairs,
#       t_dataset_card, t_lift_bigrams; t_tfidf_topk landed a window-df
#       variant and REVERTED it on the hot-term window-skew analysis —
#       it stays in-window to re-verify the revert, the
#       d_simhash_neardup precedent) — so the driver re-verifies
#       exactly what changed;
#   (b) the 9 rows deferred from the r13 window (r9-stale):
#       t_bm25_topk, t_hybrid_rrf, m_frames, e_ann_lsh,
#       e_label_centroids, k_comprehension, q56_nation_trade_volume,
#       s_windowed_stream, d_duplicate_spans (already in (a));
#   (c) the 15 stalest remaining rows — all last checked r10 (the 10
#       displaced r10 rows q11–q20 move to the round-15 window).
# 27 + 8 + 15 = 50.
_PRIORITY: list[str] = [
    # -- (a) changed this round --
    "t_dataset_card",
    "t_lift_bigrams",
    "t_kmv_jaccard",
    "t_hll_distinct",
    "t_cms_freq",
    "t_tfidf_topk",
    "t_rarity",
    "q44_fuzzy_part_pairs",
    "d_incremental_neardup",
    "d_neardup_index",
    "d_line_dedup",
    "d_simhash_neardup",
    "m_ahash_neardup",
    "d_minhash_lsh",
    "d_dedup_corpus",
    "d_dedup_keeper",
    "d_split_leakage",
    "d_span_scrub",
    "d_span_scrub_maximal",
    "d_duplicate_spans",
    "t_bigram_lm",
    "t_lang_quality_bands",
    "t_wordpiece",
    "q67_bloom_prune",
    "q64_global_seq",
    "s_kmv_stream",
    "s_cms_merge",
    # -- (b) the deferred r9-stale block --
    "t_bm25_topk",
    "t_hybrid_rrf",
    "m_frames",
    "e_ann_lsh",
    "e_label_centroids",
    "k_comprehension",
    "q56_nation_trade_volume",
    "s_windowed_stream",
    # -- (c) the 15 stalest (r10) rows --
    "e_hamming_topk",
    "e_ivfpq_ann",
    "e_pq_adc",
    "e_pq_encode",
    "k_generic",
    "q01_pricing_summary",
    "q02_forecast_revenue",
    "q03_shipping_priority",
    "q04_order_priority",
    "q05_region_volume",
    "q06_customers_without_orders",
    "q07_custdist",
    "q08_topk_per_group",
    "q09_running_totals",
    "q10_set_ops",
]
assert len(_PRIORITY) == 50, len(_PRIORITY)
assert len(set(_PRIORITY)) == 50
assert all(n in _ALL_QUERIES and n in ORACLE for n in _PRIORITY), [
    n for n in _PRIORITY if n not in _ALL_QUERIES or n not in ORACLE
]

QUERIES: dict[str, QueryFn] = {name: _ALL_QUERIES[name] for name in _PRIORITY}
QUERIES.update(
    (name, fn) for name, fn in _ALL_QUERIES.items() if name not in QUERIES
)

__all__ = ["QUERIES", "ORACLE", "QueryFn"]
