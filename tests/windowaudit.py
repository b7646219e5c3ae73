"""Shared classifier for unpartitioned (single-task) window operators.

The x442 class of scale bug (VERDICT r10): a window with an empty
PARTITION BY moves its ENTIRE input relation through one task.  Harmless
when the input is provably tiny (a LIMIT 1000 top-k, a scalar aggregate,
a bounded chunk grid), catastrophic when it is corpus-sized.

Used by the standing pytest gate (tests/test_plan_audit.py), whose other
plan checks walk the same py4j trees with ``walk``.  Classification walks
the compiled sparkPlan (pre-exchange) operator tree, including the plans
nested in it (subqueries, cached relations):

- ``bounded_by_limit``     — GlobalLimit / TakeOrderedAndProject /
  CollectLimit below the window: input <= the literal limit.
- ``bounded_by_scalar_agg`` — aggregate with NO grouping keys below:
  one row per grouping-set branch.
- ``keyed_agg``            — chain ends at an aggregate WITH keys: input
  cardinality = |distinct keys|; needs a written bound argument.
- ``other``                — chain ends at a join / scan / generate /
  union: data-sized unless argued otherwise.
"""

from __future__ import annotations

AUTO_BOUNDED = frozenset({"bounded_by_limit", "bounded_by_scalar_agg"})

# Unary pass-through nodes: rows flowing through them are not multiplied,
# so a bound established below still holds at the window's input.
# (Expand multiplies by a CONSTANT grouping-set factor; Generate can
# explode arbitrarily, so it is NOT pass-through.)
_PASS_THROUGH = {
    "Project", "Filter", "Sort", "Window", "ArrowWindowPython",
    "WindowGroupLimit", "Coalesce", "Exchange", "ShuffleExchange",
    "AQEShuffleRead", "InputAdapter", "WholeStageCodegen",
    "ColumnarToRow", "RowToColumnar", "SerializeFromObject",
    "DeserializeToObject", "SubqueryBroadcast", "ReusedExchange",
    "Expand",
}
_LIMIT_NODES = {"GlobalLimit", "LocalLimit", "TakeOrderedAndProject",
                "CollectLimit"}
_AGG_NODES = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}
_WINDOW_NODES = {"WindowExec", "ArrowWindowPythonExec"}


def _simple(node) -> str:
    return node.getClass().getSimpleName().replace("Exec", "")


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _children(node):
    return _seq(node.children())


def walk(node, ancestors: tuple = ()):
    """Pre-order ``(node, ancestors)`` over everything the plan's text
    form prints, ``ancestors`` root first: it descends into nested plans
    (subqueries and cached relations, under the node that holds them)
    as well as children, and an AQE node stands for its initial plan
    (the post-EnsureRequirements tree, with its Exchanges)."""
    yield node, ancestors
    if node.nodeName() == "AdaptiveSparkPlan":
        kids = [node.initialPlan()]
    else:
        kids = _seq(node.innerChildren()) + _children(node)
    for c in kids:
        yield from walk(c, ancestors + (node,))


def classify_window_input(window_node) -> dict:
    """Descend the window's input chain; return the boundedness verdict."""
    node = _children(window_node)[0]
    while True:
        name = _simple(node)
        if name in _LIMIT_NODES:
            return {"status": "bounded_by_limit", "node": name}
        if name in _AGG_NODES:
            if node.groupingExpressions().isEmpty():
                return {"status": "bounded_by_scalar_agg", "node": name}
            keys = node.groupingExpressions().mkString(", ")
            return {"status": "keyed_agg", "node": name, "keys": keys[:160]}
        kids = _children(node)
        if name in _PASS_THROUGH and len(kids) == 1:
            node = kids[0]
            continue
        return {"status": "other", "node": name}


def global_windows(df) -> list[dict]:
    """Every empty-partition-spec window in df's sparkPlan and the plans
    nested in it, classified."""
    plan = df._jdf.queryExecution().sparkPlan()
    out = []
    for node, _ in walk(plan):
        if node.getClass().getSimpleName() in _WINDOW_NODES:
            if node.partitionSpec().isEmpty():
                out.append(classify_window_input(node))
    return out
