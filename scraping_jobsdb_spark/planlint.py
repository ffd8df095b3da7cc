"""Plan lint: row-level work that a lambda body recomputes per element, and
the operators that cross into a Python worker.

Spark's higher-order functions (``transform``, ``filter``, ``aggregate``,
...) are ``CodegenFallback``: the lambda body is interpreted once per array
element, and no optimizer rule hoists a subexpression that does not read the
lambda variable. A ``split`` or ``regexp_*`` of a row's column written inside
such a body is therefore re-run for every element — ``shingles_sql`` once
regex-split the whole text once per shingle. The fix is to bind the value
once, as the single element of an outer ``transform(array(v), t -> ...)[0]``.

``lambda_invariants`` finds the remaining cases in a DataFrame's optimized
plan. ``tests/test_similarity.py`` pins the signing paths to zero and
``scripts/plan_audit.py`` reports the count per headline query.

``python_stages`` counts the physical operators that evaluate Python; each
starts a Python-worker task per partition. ``scripts/plan_audit.py``
reports it per headline query.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

__all__ = ["lambda_invariants", "python_stages"]

_LAMBDA = "LambdaFunction"
# Spark 4 renamed AggregateInPandas, WindowInPandas and PythonMapInArrow to
# ArrowAggregatePython, ArrowWindowPython and MapInArrow
_PYTHON_EXECS = frozenset(
    {
        "ArrowEvalPythonExec",
        "ArrowEvalPythonUDTFExec",
        "BatchEvalPythonExec",
        "BatchEvalPythonUDTFExec",
        "MapInPandasExec",
        "MapInArrowExec",
        "FlatMapGroupsInPandasExec",
        "FlatMapGroupsInArrowExec",
        "FlatMapCoGroupsInPandasExec",
        "FlatMapCoGroupsInArrowExec",
        "ArrowAggregatePythonExec",
        "ArrowWindowPythonExec",
    }
)
_VARIABLE = "NamedLambdaVariable"


def _is_row_call(name: str) -> bool:
    # split(str, regex) and the regexp_* family (regexp_replace,
    # regexp_extract[_all], regexp_instr, ...): each scans its whole subject
    return name == "StringSplit" or name.startswith("RegExp")


def _trees(nodes: list[dict]) -> list[tuple]:
    """Rebuild the expression trees of one pre-order node list (the
    ``toJSON`` layout: every node carries its ``num-children``) as
    ``(simple class name, fields, children)`` tuples. Iterative: some
    registry plans nest deeper than Python's recursion limit."""
    out: list[tuple] = []
    stack: list[tuple[tuple, int]] = []
    for n in nodes:
        node = (n["class"].rsplit(".", 1)[-1], n, [])
        if stack:
            stack[-1][0][2].append(node)
        else:
            out.append(node)
        if n["num-children"]:
            stack.append((node, n["num-children"]))
        while stack and len(stack[-1][0][2]) == stack[-1][1]:
            stack.pop()
    return out


def _expr_lists(value):
    """Every expression node list held by a plan node's fields, however
    nested (a single Expression, a Seq, Expand's Seq of Seqs)."""
    if isinstance(value, list):
        if value and all(
            isinstance(v, dict) and "num-children" in v for v in value
        ):
            yield value
        else:
            for v in value:
                yield from _expr_lists(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _expr_lists(v)


def _walk(node: tuple):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(n[2])


def _invariant_calls(root: tuple) -> list[str]:
    found: list[str] = []
    stack = [(root, False)]
    while stack:
        node, in_body = stack.pop()
        name, _fields, kids = node
        if in_body and _is_row_call(name):
            sub = list(_walk(node))
            if not any(d[0] == _VARIABLE for d in sub):
                cols = sorted(
                    {d[1]["name"] for d in sub if d[0] == "AttributeReference"}
                )
                found.append(f"{name}({', '.join(cols)})")
                continue
        if name == _LAMBDA:
            # children: the body, then the bound variables
            stack.append((kids[0], True))
        else:
            stack.extend((k, in_body) for k in kids)
    return found


def lambda_invariants(df: DataFrame) -> list[str]:
    """The ``split``/``regexp_*`` calls inside a lambda body of ``df``'s
    optimized plan that read no lambda variable, i.e. that re-run the same
    row-level scan for every element. One entry per call (the outermost of
    a nested pair), rendered as ``Class(attr, ...)`` over the columns it
    reads. A call on a lambda variable — ``split(kv, '=')`` over each
    element of an already-split array — is per-element work and is not
    listed."""
    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return [
        call
        for op in plan
        for key, value in op.items()
        if key not in ("class", "num-children")
        for nodes in _expr_lists(value)
        for root in _trees(nodes)
        for call in _invariant_calls(root)
    ]


def python_stages(df: DataFrame) -> int:
    """The number of operators in ``df``'s physical plan that evaluate
    Python: pandas and row UDFs, ``mapInPandas``/``mapInArrow``, grouped
    and co-grouped ``applyIn*``, pandas aggregates and windows. Each runs
    one Python-worker task per partition it reads. Counted on the plan
    before adaptive execution, so a stage inside an already-materialized
    checkpoint is not counted."""
    plan = json.loads(df._jdf.queryExecution().sparkPlan().toJSON())
    return sum(op["class"].rsplit(".", 1)[-1] in _PYTHON_EXECS for op in plan)
