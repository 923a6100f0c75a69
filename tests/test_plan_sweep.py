"""Whole-surface plan sweep: no gate query may plan a CartesianProduct or
BroadcastNestedLoopJoin.  The per-operator plan tests (test_plans,
test_spatial_join, test_partitioned) pin the headline shapes; this sweep
closes the gap for every other gate so a regression anywhere in the
surface (a join key dropped, a condition turned non-equi) fails CI
instead of surfacing as a 100x slowdown at scale.

Streaming gates are excluded — building their DataFrame executes the
stream (they are exercised by check_gates/CORRECTNESS instead), and the
plan under audit is the per-batch batch plan already covered by the
batch-operator tests.
"""

import re

import pytest

from osmquadtree_depreceated_spark import gate

# building a streaming gate's DataFrame runs the stream end-to-end;
# their per-batch plans are the batch operators' plans
_STREAMING = {
    "q51_streaming_rollup",
    "q57_streaming_stateful",
    "q59_streaming_update_tiles",
    "q71_streaming_pyramid",
}

# building these executes eager bucketed saveAsTable writes (both join
# sides) just to produce the DataFrame; their plan shape is already
# pinned HARDER in-gate (assert_colocated raises on ANY Exchange, which
# subsumes the BNLJ check — a BroadcastNestedLoopJoin needs a
# BroadcastExchange) and in test_bucketed's explicit plan assertions
_BUILD_WRITES = {
    "q60_bucketed_join",
    "q61_bucketed_way_cells",
}

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# gates whose result is *defined* as an all-pairs baseline: the brute
# kNN gate scans every node against the O(queries)-row broadcast side —
# the nested loop IS its contract (COVERAGE.md documents it as the
# oracle baseline; q24_knn_cells is the scale path and must stay clean)
_ALLOWED = {"q08_knn": ("BroadcastNestedLoopJoin",)}

# Plan-size budget for every swept gate: an expression that Catalyst
# inlines into each of its references (the failure class behind the
# 1,132,785-char assign_groups plan) shows as plan text long before it
# shows as wall time.  Largest swept gates at sf0.001: q48 at 258,778
# optimized-plan chars, q52 at 9 Python-eval nodes.
MAX_PLAN_CHARS = 400_000
MAX_PYTHON_EVAL_NODES = 16


@pytest.mark.parametrize("name", [
    n for n in gate.GATE_QUERIES if n not in _STREAMING | _BUILD_WRITES
])
def test_gate_plan_has_no_cartesian_or_bnlj(spark, sf_dir, name):
    df = gate.GATE_QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    hits = [m for m in _FORBIDDEN if m in plan and m not in
            _ALLOWED.get(name, ())]
    assert not hits, (
        f"{name} plans {hits} — non-equi or keyless join reached the "
        f"physical plan:\n{plan[:3000]}"
    )
    n_chars = len(qe.optimizedPlan().toString())
    assert n_chars < MAX_PLAN_CHARS, (
        f"{name}: optimized plan is {n_chars} chars — an expression is "
        f"being inlined into its references")
    n_py = len(re.findall(r"\b(?:ArrowEvalPython|BatchEvalPython)\b", plan))
    assert n_py < MAX_PYTHON_EVAL_NODES, (
        f"{name}: {n_py} Python-eval nodes in the physical plan")
