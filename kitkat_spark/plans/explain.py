"""Helpers that read a DataFrame's physical plan and answer the questions the
100 TB checklist asks of every operator (SURVEY.md §4, repo north star):

- did the filter/projection reach the parquet scan (PushedFilters/ReadSchema)?
- is the small side of the join broadcast?
- how many shuffles (Exchange) does the plan pay?
- how much of the plan is inside whole-stage codegen?

These are assertions for tests and a debugging surface — the optimizer does
the work; we verify it wasn't accidentally defeated (e.g. a Python UDF
between scan and filter kills pushdown silently).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_EXCHANGE = r"\bExchange\b"
_BROADCAST_JOIN = r"BroadcastHashJoin|BroadcastNestedLoopJoin"
_CODEGEN_SPAN = r"\*\((\d+)\)"

# the two sections an AdaptiveSparkPlan prints once it has run
_AQE_SECTION = re.compile(r"== (Final|Initial) Plan ==")
# a node id in a formatted-mode tree line ("HashAggregate (14)") and at the
# head of that node's details block ("(14) HashAggregate ...")
_TREE_ID = re.compile(r" \((\d+)\)")
_DETAILS_ID = re.compile(r"\((\d+)\) ")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (explain() only prints), with each
    AdaptiveSparkPlan's plan in it once.

    An adaptive plan that has run — the query itself after an action, or a
    cached relation an earlier query materialized — prints two copies of
    its tree: ``== Final Plan ==`` (query stages, re-optimized) and
    ``== Initial Plan ==``. Counting both doubles every operator below a
    materialized cache, so a plan's facts would depend on what ran before
    it. Each Final section is dropped and its Initial section kept, which
    is the tree the plan printed before it ran; in formatted mode the
    details of nodes that only a Final section listed go with it."""
    text = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )
    kept, dropped = [], []
    final_col = None  # column of the Final marker whose section is skipped
    for line in text.split("\n"):
        m = _AQE_SECTION.search(line)
        if m and final_col is None and m.group(1) == "Final":
            final_col = m.start()
        elif m and m.start() == final_col:  # the paired Initial marker
            final_col = None
        (kept if final_col is None else dropped).append(line)
    gone = {i for ln in dropped for i in _TREE_ID.findall(ln)}
    gone -= {i for ln in kept for i in _TREE_ID.findall(ln)}
    blocks = "\n".join(kept).split("\n\n")
    return "\n\n".join(
        b
        for b in blocks
        if not ((m := _DETAILS_ID.match(b.lstrip("\n"))) and m.group(1) in gone)
    )


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan carries non-empty PushedFilters including every
    given fragment (case-insensitive substring match on the filter list)."""
    plan = explain_str(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    joined = "; ".join(pushed)
    if not any(p.strip() for p in pushed):
        return False
    return all(f.lower() in joined.lower() for f in fragments)


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists each parquet scan actually reads (pruning check)."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators (each is a full shuffle of its input)."""
    return len(re.findall(_EXCHANGE, explain_str(df, "simple")))


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(_BROADCAST_JOIN, explain_str(df, "simple")))


def wholestage_codegen_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans (simple mode prints them as a
    ``*(n)`` operator prefix) — wider/fewer is better. An adaptive plan
    prints them only in its Final section, so this reads the spans of
    plans without an exchange (which AQE leaves unwrapped)."""
    return len(set(re.findall(_CODEGEN_SPAN, explain_str(df, "simple"))))


def plan_facts(df: DataFrame) -> dict:
    """One-call summary: test_parity checks it against PLAN_FACTS.md, which
    tools/plan_report.py writes from it."""
    simple = explain_str(df, "simple")
    formatted = explain_str(df)
    return {
        "shuffles": len(re.findall(_EXCHANGE, simple)),
        "broadcast_joins": len(re.findall(_BROADCAST_JOIN, simple)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", simple)),
        "python_udf_nodes": len(re.findall(r"BatchEvalPython|ArrowEvalPython", simple)),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", formatted),
    }
