"""Physical-plan inspection helpers — the feedback loop for the scale
contract ("is the filter pushed down? did the dim join broadcast? is the
expression inside codegen?"). Used by tests/test_plans.py to pin plan
properties, not just results.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_pushed_filter(df: DataFrame) -> None:
    plan = physical_plan(df)
    compact = plan.replace(" ", "")
    if "PushedFilters:[" not in compact or "PushedFilters:[]" in compact:
        raise AssertionError(f"no pushed filters in plan:\n{plan}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError(f"no broadcast join in plan:\n{plan}")


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError(f"cartesian product in plan:\n{plan}")


def plan_tree(plan: str) -> list[tuple[int, int, str]]:
    """Parse ``explain("formatted")`` output into pre-order
    ``(node_id, tree_depth, detail)`` triples.

    The formatted output prints an indented tree whose lines end in
    ``(N)`` followed by per-node detail blocks headed ``(N) NodeName``.
    Pairing the two gives subtree queries the flat plan string can't
    answer ("is THIS exchange's input bounded?") — used by the plan pins
    to assert WHERE in the tree a shuffle sits, not just how many exist.
    """
    lines = plan.splitlines()
    details: dict[int, str] = {}
    cur: int | None = None
    for ln in lines:
        m = re.match(r"\((\d+)\) ", ln)
        if m:
            cur = int(m.group(1))
            details[cur] = ln
        elif cur is not None and ln.strip():
            details[cur] += "\n" + ln
    out: list[tuple[int, int, str]] = []
    for ln in lines:
        m = re.search(r"\((\d+)\)\s*$", ln)
        if not m:
            continue
        nid = int(m.group(1))
        depth = len(ln) - len(ln.lstrip(" :+-*"))
        out.append((nid, depth, details.get(nid, ln.strip())))
    return out


def subtree_details(
    tree: list[tuple[int, int, str]], idx: int
) -> list[str]:
    """Details of every node strictly inside the subtree rooted at
    ``tree[idx]`` (pre-order positions until depth returns <= root's)."""
    root_depth = tree[idx][1]
    out: list[str] = []
    for _nid, depth, detail in tree[idx + 1 :]:
        if depth <= root_depth:
            break
        out.append(detail)
    return out


def assert_codegen(df: DataFrame) -> None:
    # Under AQE the codegen spans only appear in the FINAL plan — execute
    # first so explain() reflects it (isFinalPlan=true).
    plan = physical_plan(df)
    if "isFinalPlan=false" in plan:
        df.collect()
        plan = physical_plan(df)
    # "formatted" mode marks codegen stages as "[codegen id : N]";
    # "simple" mode prints "WholeStageCodegen" — accept either.
    if "WholeStageCodegen" not in plan and "codegen id" not in plan:
        raise AssertionError(f"no whole-stage codegen span in plan:\n{plan}")
