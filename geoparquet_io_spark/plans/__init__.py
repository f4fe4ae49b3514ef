"""Plan-inspection helpers: verify the physical plans this engine relies
on (pushdown, broadcast, codegen) actually materialize.

The reference gets row-group pruning from DuckDB implicitly; here the
same property must hold through Catalyst — these helpers make it
assertable in tests and visible in benchmarks (SURVEY.md section 4).
The engine's own plan gates read node names from one walk, ``plan_nodes``."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_nodes(df: DataFrame):
    """The physical plan's nodes, planned but not run (0 jobs):
    ``executedPlan()`` children only, so a cached relation's inner plan
    does not count, stepping into an ``AdaptiveSparkPlan``'s
    ``initialPlan()`` (the AQE node has no children, and a run frame's
    current plan hides its exchanges behind query-stage leaves)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        yield node
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]


def shuffles(df: DataFrame) -> bool:
    """A shuffle into >1 partition (not broadcast, not SinglePartition)?"""
    return any(n.nodeName() == "Exchange"
               and n.outputPartitioning().numPartitions() > 1
               for n in plan_nodes(df))


def runs_python(df: DataFrame) -> bool:
    """A Python node: (Arrow|Batch)EvalPython[UDTF], MapIn(Pandas|Arrow),
    FlatMap*In(Pandas|Arrow), AggregateInPandas ...?"""
    return any(k in n.nodeName() for n in plan_nodes(df)
               for k in ("EvalPython", "InPandas", "InArrow"))


def _split_top_level(s: str, opens: str = "([<", closes: str = ")]>",
                     sep: str = ",") -> list[str]:
    """Split on ``sep`` only at bracket depth 0 — a naive split broke
    multi-arg filters (In(x, [A,B]) became three bogus entries) and
    parameterized types (decimal(12,2) grew a phantom column '2)')."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch in opens:
            depth += 1
        elif ch in closes:
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


def _balanced_bracket_body(plan: str, marker: str) -> list[str]:
    """Bodies of every ``marker [ ... ]`` with bracket balancing — the
    old [^\\]]* regex truncated at the first ']' INSIDE a filter."""
    bodies: list[str] = []
    start = 0
    while True:
        i = plan.find(marker, start)
        if i < 0:
            return bodies
        j = plan.find("[", i)
        if j < 0:
            return bodies
        depth, k = 0, j
        while k < len(plan):
            if plan[k] == "[":
                depth += 1
            elif plan[k] == "]":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        bodies.append(plan[j + 1:k])
        start = k + 1


def pushed_filters_from(plan: str) -> list[str]:
    out: list[str] = []
    for body in _balanced_bracket_body(plan, "PushedFilters:"):
        out.extend(_split_top_level(body))
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan node in the plan."""
    return pushed_filters_from(formatted_plan(df))


def read_schema_columns_from(plan: str) -> list[str]:
    m = re.search(r"ReadSchema: struct<", plan)
    if not m:
        return []
    # balance the <...> span: nested struct types carry their own <>
    i = m.end() - 1
    depth, k = 0, i
    while k < len(plan):
        if plan[k] == "<":
            depth += 1
        elif plan[k] == ">":
            depth -= 1
            if depth == 0:
                break
        k += 1
    body = plan[i + 1:k]
    return [c.split(":", 1)[0] for c in _split_top_level(body)]


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    return read_schema_columns_from(formatted_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)          # ONE planning, not two
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def codegen_stage_count(df: DataFrame) -> int:
    return formatted_plan(df).count("WholeStageCodegen")


def plan_summary(df: DataFrame) -> dict:
    # one formatted_plan: each helper used to re-run the full Catalyst
    # analysis (three complete plannings per summary on AQE plans)
    plan = formatted_plan(df)
    return {
        "pushed_filters": pushed_filters_from(plan),
        "read_schema": read_schema_columns_from(plan),
        "codegen_stages": plan.count("WholeStageCodegen"),
        "exchanges": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "python_evals": plan.count("ArrowEvalPython") + plan.count("BatchEvalPython"),
    }
