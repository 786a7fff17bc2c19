"""Global plan lint: EVERY batch query's physical plan is swept for
scale anti-patterns. This is the repo-wide version of the targeted
gates in test_plans.py — a regression here means a new or edited
query re-introduced a pattern that dies at 100 TB.

- ``CartesianProduct``: forbidden everywhere (no exceptions — every
  pairwise operator in this repo is banded/bucketed/broadcast).
- ``BatchEvalPython`` (row-at-a-time Python UDF): forbidden
  everywhere — Python only ever appears Arrow-batched (MapInPandas /
  AggregateInPandas / ArrowEvalPython).
- ``BroadcastNestedLoopJoin``: allowed ONLY on the allowlist below,
  where the build side is provably O(1)/O(days)-sized (scalar
  aggregates, day spines, broadcast query sets) — a BNLJ against a
  growing side is a bug.

Streaming one-shots are excluded: building their DataFrame runs the
stream (they are availableNow queries), and their physical shape is
covered by test_streaming / test_ivm.
"""

from __future__ import annotations

import pytest

from rust_dms_cdc_operator_spark.inventory import QUERIES
from rust_dms_cdc_operator_spark.plans.inspect import formatted_plan

SF_DIR = "/root/testdata/sf0.001"

# BNLJ build sides, each O(1) rows or O(days): justified and stable
# Round 7 shrank this to the three joins whose build side is a
# genuinely BOUNDED dimension (not a scalar): every former scalar
# entry now combines via tagged-union aggregation (count_diff
# pattern: triangle_stats, events_funnel, events_join_size_estimate)
# or the literal-lookup collect (chunk-offset pattern: q11, q22,
# docs_bm25_search).
BNLJ_ALLOWED = {
    "sim_batch_topk",           # broadcast query-vector set (k rows)
    "events_dau_mau",           # day spine (O(days)) range join
    "sim_knn_classify",         # broadcast 50-query set (bounded)
    # round 9: broadcast-quantizer centroid scoring
    # (similarity._centroid_scores) — the build side is the TRAINED
    # IVF quantizer (n/256 lists of 64 doubles, KB-MB; capped at the
    # usual 2^16-2^20 lists in a 100 TB deployment), never the corpus
    "sim_knn_density",
    "dedup_semantic_pairs",
    "sim_ivf_occupancy",
    # round 10: recall census — build sides are the bounded query
    # sample (vec_id % 50 == 1, broadcast by batch_cosine_topk) and
    # the trained quantizer (KB-MB), never the corpus
    "sim_ivf_recall",
}

SKIP = tuple(
    n
    for n in QUERIES
    if n.startswith("stream_") or n == "cdc_incremental_agg_view"
)

# Single-partition Window nodes (no partitionBy): every entry's input
# frame is BOUNDED BY CONSTRUCTION — a fixed grid, a ≤10-row decile
# set, a day spine, or a .limit(k) head — so "move all data to one
# partition" moves O(10..365) rows, not the corpus. Anything else
# planning a global window is a 100 TB bug: the whole input serializes
# through one task.
UNPARTITIONED_WINDOW_ALLOWED = {
    "docs_length_ks",           # clip-4096 length grid running sum
    "docs_rrf_hybrid",          # two .limit(50) ranked heads (2 nodes)
    "docs_vocab_growth",        # 10-row decile spine running sum
    "docs_zipf_fit",            # .limit(100) rank head
    "events_cumulative_uniques",  # day spine (O(days)) running sum
    "events_value_quantiles",   # fixed 16-bucket grid (6 nodes)
    "orders_decile_lift",       # 10-row decile running sum
    "orders_open_backlog_daily",  # day spine (O(days)) running sum
}

# A Window node is UNPARTITIONED iff its windowspecdefinition's FIRST
# argument is already a sort order (bare partition columns would
# precede it) or the frame itself (no partition, no order).
_GLOBAL_WINDOW = __import__("re").compile(
    r"windowspecdefinition\((?:[^,()\s]+ (?:ASC|DESC) NULLS"
    r"|specifiedwindowframe)"
)


@pytest.fixture(scope="module")
def plans(spark):
    from rust_dms_cdc_operator_spark.inventory_llm import prepare_bench

    prepare_bench(spark, SF_DIR)
    out = {}
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        out[name] = formatted_plan(fn(spark, SF_DIR))
    return out


def test_no_cartesian_products_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], offenders


def test_no_row_at_a_time_python_udfs(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == [], offenders


def test_bnlj_only_on_allowlist(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert offenders == [], offenders


def test_no_hof_in_join_conditions(plans):
    """No interpreted higher-order function (aggregate/zip_with/
    transform over arrays) may appear inside a join condition.
    Catalyst pushes a post-join filter over such an expression into
    the join predicate, PREPENDED to the cheap conjuncts — so the
    HOF evaluates on every joined row instead of the survivors (the
    round-6 embedding_neardup_pairs find: the cosine ran on 400k
    block-joined rows instead of 4.9k gap survivors, 6x the query
    cost). The fix is structural — generate candidates narrow and
    attach the arrays by id ABOVE the join — so a regression here
    means a new query re-inlined payload arrays into candidate
    generation.

    The flagged shape is precisely the MIXED condition: an HOF
    sharing one join condition with cheap range conjuncts (an
    ``<`` / id-gap bound) — that is candidate generation evaluating
    the expensive expression pre-prune. An HOF ALONE in a fetch
    join's condition (narrow-then-fetch's top join) evaluates once
    per already-pruned candidate and is fine."""
    hof_markers = ("zip_with(", "aggregate(transform(")
    offenders = []
    for name, plan in plans.items():
        for line in plan.splitlines():
            stripped = line.strip()
            if not stripped.startswith("Join condition:"):
                continue
            if any(m in stripped for m in hof_markers) and " < " in stripped:
                offenders.append((name, stripped[:120]))
                break
    assert offenders == [], offenders


def test_allowlist_not_stale(plans):
    """Every allowlisted query still exists and still uses a BNLJ —
    prune the list when a plan improves."""
    for name in BNLJ_ALLOWED:
        assert name in plans, f"{name} vanished from the inventory"
        assert "BroadcastNestedLoopJoin" in plans[name], (
            f"{name} no longer plans a BNLJ — remove it from the allowlist"
        )


def test_unpartitioned_windows_only_on_allowlist(plans):
    """No query may plan a single-partition Window (Window with no
    partitionBy) unless its input frame is provably bounded and it is
    on UNPARTITIONED_WINDOW_ALLOWED — a global window over a growing
    input serializes the corpus through ONE task at scale (the same
    class of bug as a cartesian). Global ranks over unbounded inputs
    must go through the two-level ``with_global_rank`` instead."""
    offenders = [
        n
        for n, p in plans.items()
        if _GLOBAL_WINDOW.search(p) and n not in UNPARTITIONED_WINDOW_ALLOWED
    ]
    assert offenders == [], offenders


def test_unpartitioned_window_allowlist_not_stale(plans):
    """Every allowlisted global-window query still exists and still
    plans one — prune the list when a plan improves (the BNLJ
    staleness contract, mirrored)."""
    assert len(UNPARTITIONED_WINDOW_ALLOWED) <= 10
    for name in UNPARTITIONED_WINDOW_ALLOWED:
        assert name in plans, f"{name} vanished from the inventory"
        assert _GLOBAL_WINDOW.search(plans[name]), (
            f"{name} no longer plans a global window — remove it "
            "from the allowlist"
        )


# ------------------------------------------------------- persist-site lint
# Round 10 (r9 verdict item 4): caller-owned persists were a
# convention, not a gate — the exact class the round-8 kcore leak
# belonged to. This registry makes the convention machine-checked:
# every .persist()/.cache()/.localCheckpoint() call site in the
# package must either be RELEASED inside its own function (an
# unpersist on the happy path — kcore/CC/heavy_hitters)
# or be deliberately registered here as a caller-owned cache with its
# expected site count. A new unreleased persist anywhere in the
# package fails test_persist_sites_registered until it is added here
# with a justification; an entry whose function gains an in-function
# release fails the staleness check until pruned.
#
# Two legitimate classes (both bounded + MEMORY_AND_DISK/LRU):
#  * inventory queries whose cache feeds BOTH an in-query bounded
#    collect AND the returned lazy plan (module-level clearCache
#    contract in inventory_llm.py's docstring);
#  * operator-library caches the RETURNED DataFrame stays lazy over
#    (minhash_lsh_pairs' signature table, pagerank's adjacency) —
#    releasing them in-function would recompute the input per
#    consumer; ownership transfers to the caller with the plan.
PERSIST_CALLER_OWNED = {
    # inventory: collect + lazy-return double consumers
    "inventory_tpch2.py:q_q11_important_stock": 1,   # per-part agg
    "inventory_llm.py:q_dedup_band_tuning": 2,       # tagged + verified
    # (round 12: the group-split/cohesion/rebuild pair streams now go
    # through session.materialize_leaf instead of in-function
    # persist/localCheckpoint sites)
    "inventory_llm.py:_bm25_scored": 1,              # doc-length table
    # the shared lineage-cut helper — materializes a heavy BOUNDED
    # intermediate once (localCheckpoint) and returns the leaf; its
    # blocks live as long as the returned frame (the ContextCleaner
    # frees a dropped leaf; harness sweeps free them at once)
    "session.py:materialize_leaf": 1,
    # round 13: the UNBOUNDED counterpart — eager persist, lineage
    # kept (LRU-evictable/recomputable, so no block-store OOM);
    # caller-owned per the module clearCache contract
    "session.py:materialize_cache": 1,
    # operator library: returned plan is lazy over the cache
    "operators/dedup.py:minhash_knn_topk": 1,        # signature table
    "operators/dedup.py:ngram_jaccard_pairs": 1,     # shingle table
    "operators/dedup.py:candidate_budget_sample": 1, # sampled pairs
    "operators/dedup.py:_ranked_shingles": 1,        # ranked tokens
    "operators/dedup.py:sorted_neighborhood_pairs": 1,  # sorted keys
    "operators/dedup.py:hamming_pairs_from_signatures": 1,  # sig table
    "operators/graph.py:_make_ckpt": 1,  # factory; connected
    # components is its only user and returns plans over its label
    # checkpoints (k-core calls localCheckpoint itself)
    "operators/graph.py:triangle_stats": 2,          # edges + adjacency
    "operators/graph.py:pagerank_undirected": 2,     # adjacency + deg
    # (r10 build rework: deg is node-sized, joined per round)
    "operators/graph.py:label_propagation": 1,       # adjacency
    "operators/perplexity.py:unigram_logppl": 1,     # token table
    "operators/perplexity.py:source_token_drift": 1, # joint counts
}

_PERSIST_ATTRS = ("persist", "cache", "localCheckpoint")


def _persist_sites():
    """AST sweep of the package: {module:function -> (n_persist_sites,
    has_unpersist)} for every function containing a persist-family
    call."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "rust_dms_cdc_operator_spark")
    pkg = os.path.abspath(pkg)
    out = {}

    for dirpath, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Lambda(self, node):
                    # lambdas belong to their enclosing def
                    self.generic_visit(node)

                def visit_Call(self, node):
                    f = node.func
                    if isinstance(f, ast.Attribute):
                        fun = self.stack[0] if self.stack else "<module>"
                        key = f"{rel}:{fun}"
                        if f.attr in _PERSIST_ATTRS:
                            n, rel_ = out.get(key, (0, False))
                            out[key] = (n + 1, rel_)
                        elif f.attr == "unpersist":
                            n, _rel_ = out.get(key, (0, False))
                            out[key] = (n, True)
                    self.generic_visit(node)

            V().visit(tree)
    return out


def test_persist_sites_registered():
    """Every unreleased persist/cache/localCheckpoint site in the
    package is either released in-function or deliberately registered
    in PERSIST_CALLER_OWNED with the exact site count — a new cache
    cannot be introduced silently (the round-8 kcore-leak class)."""
    sites = _persist_sites()
    offenders = []
    for key, (n, released) in sorted(sites.items()):
        if n == 0 or released:
            continue  # released in-function (or unpersist-only)
        want = PERSIST_CALLER_OWNED.get(key)
        if want != n:
            offenders.append(f"{key}: {n} unreleased persist site(s), "
                             f"registered {want}")
    assert offenders == [], offenders


def test_persist_registry_not_stale():
    """Every registry entry still names a live function whose persist
    count matches — prune entries when a function is released or
    removed (the BNLJ/window staleness contract, mirrored)."""
    sites = _persist_sites()
    for key, want in PERSIST_CALLER_OWNED.items():
        assert key in sites, f"{key} vanished — prune the registry"
        n, released = sites[key]
        assert not released, (
            f"{key} now releases in-function — prune the registry"
        )
        assert n == want, f"{key}: registry says {want}, found {n}"
