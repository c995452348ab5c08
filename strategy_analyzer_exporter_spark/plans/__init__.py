"""Physical-plan inspection helpers.

Scale regressions rarely show up at test scale factors — a lost filter
pushdown or a sort-merge join where a broadcast belongs runs fine on 60k
rows and melts at 100 TB. These helpers make plan shape assertable in
tests (tests/test_plans.py) the way values are assertable against the
DuckDB oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def operator_tree(plan: DataFrame | str) -> str:
    """The operator-name tree of a physical plan: the header block of
    ``explain("formatted")`` with the node ids stripped, so two plans of
    the same shape compare equal across sessions and inputs. ``plan`` is
    a DataFrame or the text of a saved formatted plan (plans/r*/)."""
    text = plan if isinstance(plan, str) else formatted_plan(plan)
    header = text.split("== Physical Plan ==", 1)[1].strip("\n").split("\n\n", 1)[0]
    return re.sub(r"\s*\(\d+\)$", "", header, flags=re.M)


def _strip_initial_plan_blocks(plan: str) -> str:
    """Drop ``== Initial Plan ==`` blocks from the plan string. When a
    cached relation's lineage is printed (once per InMemoryTableScan),
    it appears as a full AdaptiveSparkPlan carrying BOTH its final plan
    and the pre-AQE initial plan — the initial plan's exchanges never
    ran in that form and double-count the final plan's."""
    out: list[str] = []
    skip_indent: int | None = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def count_exchanges(df: DataFrame) -> int:
    """Distinct shuffle exchanges in the plan (excluding broadcast
    exchanges) — the number that must stay flat as operators are added
    to a shared-partitioning pipeline.

    Distinct by ``plan_id``: toString re-prints a cached relation's
    whole lineage under EVERY InMemoryTableScan that reads it, but a
    cached subtree's shuffles execute once at materialization, not per
    scan — the repeated prints share plan_ids and must not multiply the
    count. AQE's "Initial Plan" echo (superseded, never-executed node
    instances with their own plan_ids) is stripped first."""
    plan = _strip_initial_plan_blocks(physical_plan(df))
    ids: set[str] = set()
    untagged = 0
    for m in re.finditer(r"\bExchange hashpartitioning[^\n]*", plan):
        tag = re.search(r"\[plan_id=(\d+)\]", m.group(0))
        if tag:
            ids.add(tag.group(1))
        else:
            untagged += 1
    return len(ids) + untagged


def count_broadcast_joins(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def count_broadcast_hints(df: DataFrame) -> int:
    """Explicit ``F.broadcast()`` / hint("broadcast") nodes in the
    ANALYZED logical plan. An explicit hint overrides Spark's size
    threshold, so a hint on a relation that grows with the data is a
    guaranteed OOM at scale — tests assert 0 on queries whose build
    sides scale with |keys| (AQE may still broadcast when genuinely
    small; that's fine and not counted here). Only BROADCAST-strategy
    hints count: a shuffle/merge/rebalance hint is a different (and
    legitimate) instruction and must not trip the broadcast guard."""
    s = df._jdf.queryExecution().analyzed().toString()
    n = 0
    for line in s.splitlines():
        if "ResolvedHint" in line or "UnresolvedHint" in line:
            if re.search(r"broadcast|mapjoin", line, re.IGNORECASE):
                n += 1
    return n


def count_sort_merge_joins(df: DataFrame) -> int:
    return physical_plan(df).count("SortMergeJoin")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — asserts column pruning."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", physical_plan(df))


def count_unpartitioned_windows(df: DataFrame) -> int:
    """Window expressions with an EMPTY partition spec — the single-task
    global-sort/agg shape that melts at scale. Parses every
    ``windowspecdefinition(part..., order..., frame)`` in the plan:
    order args carry ASC/DESC markers and the frame arg is a
    ``specifiedwindowframe`` — a spec with NO remaining (partition)
    args is unpartitioned. Constant-key windows over k-row relations
    (functions/topk.py) keep their ``lit(0)`` partition because
    session.py excludes Spark 4's EliminateWindowPartitions rule, so
    they do not count."""
    plan = physical_plan(df)
    n = 0
    marker = "windowspecdefinition("
    i = 0
    while True:
        i = plan.find(marker, i)
        if i < 0:
            break
        j = i + len(marker)
        depth = 1
        args: list[str] = []
        cur = []
        while j < len(plan) and depth:
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if not depth:
                    break
            elif ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
                j += 1
                continue
            cur.append(ch)
            j += 1
        if cur:
            args.append("".join(cur).strip())
        part = [
            a
            for a in args
            if not a.startswith("specifiedwindowframe")
            and " ASC NULLS" not in a
            and " DESC NULLS" not in a
        ]
        if not part:
            n += 1
        i = j
    return n


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """True if the plan compiles whole-stage-codegen subtrees. Uses
    codegen-mode explain (AQE plans don't print codegen markers in the
    plain plan string until finalized)."""
    s = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    return "WholeStageCodegen" in s
