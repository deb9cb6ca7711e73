"""Plan-cache POLICY gate (r13 VERDICT #2/#6): the analyzed-plan cache is
legitimate only on serving/ingest-recurring surfaces — a long-lived session
genuinely holds those plans (probe tiers against persisted indexes,
admission gates, serving reranks), and a cache hit must amortize
construction round-trips and Catalyst analysis ONLY, never per-run data
jobs of a batch query. That line was prose in OPTIMIZATION_r13.md; this
test encodes it: any NEW `plan_cache.memo` call site fails until it is
added here WITH a production-recurrence argument, and no module but
session.py reaches the cache through `plan_cache.get`/`plan_cache.put`,
so a hand-written entry cannot get past the whitelist.

The r13 entries for q67_bloom_prune (dim-count sizing job + bloom-build
aggregation/collect) and t_wordpiece (corpus vocab-derivation job +
collect) crossed that line — their construction is per-run DATA work a
fresh invocation always pays — and were evicted in r14; they must never
come back without a new argument here.
"""

from __future__ import annotations

import ast
import pathlib

SRC = pathlib.Path(__file__).resolve().parent.parent / "udlang_spark"

# function name -> why caching its plan is a serving surface, not a
# bench-artifact optimization
WHITELIST: dict[str, str] = {
    # persisted-index probe tiers: the index is built once per corpus and
    # probed many times; a hit skips sidecar collects/routing/analysis only
    "_ivfpq_topk": "persisted IVF-PQ index probe (e_ivfpq_ann, e_ivfpq_append)",
    "_ivfpq_recall_arms": "recall card over a persisted index probe",
    "_exact_panel_top5": "shared exact arm of the three recall cards",
    "d_neardup_index": "persisted near-dup ingest index probe",
    # ingest admission gate: ZERO driver round-trips — pure analysis
    "d_incremental_neardup": "ingest admission gate, analysis-only cache",
    # analysis-only caches (zero driver round-trips, zero data jobs)
    "e_hamming_topk": "analysis-only (64-term signature expression tree)",
    "t_maxsim_topk": "serving rerank, analysis-only cache",
    # composed serving pipeline over the persisted index
    "t_retrieval_pipeline": "end-to-end serving pipeline (probe tier)",
}


REPO = SRC.parent


def _call_sites(files, attrs: tuple[str, ...]) -> dict[str, list[str]]:
    """{enclosing function name: [file:line, ...]} for every
    `plan_cache.<attr>(...)` call with attr in `attrs` in `files`."""
    sites: dict[str, list[str]] = {}
    for py in sorted(files):
        tree = ast.parse(py.read_text(), filename=str(py))
        # map every node to its enclosing function
        for func in [
            n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]:
            for node in ast.walk(func):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in attrs
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "plan_cache"
                ):
                    sites.setdefault(func.name, []).append(
                        f"{py.relative_to(REPO)}:{node.lineno}"
                    )
    return sites


def _memo_sites() -> dict[str, list[str]]:
    return _call_sites(SRC.rglob("*.py"), ("memo",))


def test_plan_cache_whitelist():
    sites = _memo_sites()
    assert sites, "source scan found no plan_cache.memo sites — scan broken?"
    rogue = {f: locs for f, locs in sites.items() if f not in WHITELIST}
    assert not rogue, (
        "plan_cache.memo outside the declared serving-surface whitelist: "
        f"{rogue}. Caching a batch query's plan moves its per-run "
        "construction out of every benched run — add the function here "
        "ONLY with a production-recurrence argument (see module docstring)."
    )
    stale = {f for f in WHITELIST if f not in sites}
    assert not stale, (
        f"whitelist entries with no memo site (stale — remove them): {stale}"
    )
    multi = {f: locs for f, locs in sites.items() if len(locs) != 1}
    assert not multi, f"one memo call per cached function, got {multi}"


def test_cache_reached_only_through_memo():
    """A direct get/put pair would cache a plan the whitelist never sees
    and skip memo's record of what the build persisted."""
    files = [
        py
        for d in ("udlang_spark", "tools", "perfbench", "tests")
        for py in (REPO / d).rglob("*.py")
        if py != SRC / "session.py"
    ] + list(REPO.glob("*.py"))
    assert SRC / "queries" / "llm.py" in files
    direct = _call_sites(files, ("get", "put"))
    assert not direct, f"plan_cache.get/put outside session.py: {direct}"


def test_evicted_entries_stay_evicted():
    """q67_bloom_prune and t_wordpiece memoised per-run data jobs across
    bench runs (r13 VERDICT 'what's wrong #1'); their entries were evicted
    in r14. A reintroduction under any function name that shadows these
    queries must fail the whitelist above; this pins the two names
    explicitly so the intent survives refactors."""
    sites = _memo_sites()
    for banned in ("q67_bloom_prune", "t_wordpiece", "wordpiece_stats"):
        assert banned not in sites, (
            f"{banned} plan-caches again ({sites[banned]}): its construction "
            "is per-run data work; the r13 judge ruled this gaming"
        )
