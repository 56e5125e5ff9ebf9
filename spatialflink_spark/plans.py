"""Physical-plan inspection — make 'the plan you'd want' assertable.

The engine's scale story rests on Catalyst properties that are easy to lose
silently (a refactor that breaks filter pushdown still passes correctness
tests). This module turns them into assertions used by tests/test_plans.py
and by bench-time diagnostics:

- scan_pushdown(df): PushedFilters / ReadSchema reaching the parquet scan
- has_broadcast_join(df): small side broadcast, not shuffled
- has_partial_aggregate(df): map-side combine before the exchange
- exchange_count(df): number of shuffles in the plan
- plan_skeleton(df): the operator tree alone, comparable across plans
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def plan_skeleton(df: DataFrame) -> str:
    """The formatted plan's node tree — one line per operator, nesting kept —
    with the (N) node numbers and #ids stripped, so two plans compare equal
    exactly when they run the same operators in the same shape (expression
    details and attribute ids aside)."""
    tree = formatted_plan(df).split("\n\n", 1)[0]
    return "\n".join(
        re.sub(r" \(\d+\)|#\d+L?", "", line).rstrip() for line in tree.splitlines()
    )


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df) or "BroadcastNestedLoopJoin" in simple_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Built-in aggs plan as partial HashAggregate -> Exchange -> final."""
    plan = formatted_plan(df)
    return "partial_" in plan or "Partial" in plan


def exchange_count(df: DataFrame) -> int:
    return simple_plan(df).count("Exchange")


def codegen_stage_count(df: DataFrame) -> int:
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", simple_plan(df))))


def window_specs(df: DataFrame) -> list[str]:
    """PREFIX of each windowspecdefinition(...) argument list — up to the
    first nested close-paren, which always covers the partition + ordering
    columns (they precede the nested specifiedwindowframe(...)). Enough for
    asserting that no window runs un-partitioned over a large relation (the
    single-task global-sort anti-pattern); NOT the full spec — frame
    contents are truncated by design."""
    return re.findall(r"windowspecdefinition\(([^)]*)\)", simple_plan(df))


def has_bounded_topk(df: DataFrame) -> bool:
    """True when the plan cuts top-k via TakeOrderedAndProject (per-partition
    heap + driver merge of k-row results) rather than a global sort."""
    return "TakeOrderedAndProject" in simple_plan(df)
