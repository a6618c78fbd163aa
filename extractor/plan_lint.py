"""Physical-plan linter — the repo's plan-quality gates productized.

``tests/test_plan_quality.py`` asserts the plans WE designed; this module
gives users the same scrutiny for THEIR queries before they burn a
cluster on them: feed any DataFrame, get back the scale red flags Spark
will execute without complaint but that melt down at 100 TB.

Rules (each keyed, so callers can allowlist deliberate choices):

- ``cartesian_product``       CartesianProduct node: O(n*m) pair blowup.
- ``broadcast_nested_loop``   BroadcastNestedLoopJoin: non-equi join
                              condition — fine for a tiny side, fatal
                              when both sides are data-sized.
- ``python_row_udf``          BatchEvalPython: row-at-a-time Python in
                              the hot path (10-100x slower than an
                              Arrow-batched kernel stage).
- ``single_partition_exchange``  Exchange SinglePartition: the whole
                              relation funnels through one task (global
                              window without partitionBy, coalesce(1),
                              …).  Legitimate when the input is already
                              a tiny aggregate — the finding carries the
                              subtree so the caller can judge.
- ``multi_distinct_expand``   Expand: multi-`count(distinct)` rewrites
                              multiply the shuffle volume by the number
                              of distinct aggregates; consider
                              ``approx_count_distinct`` partials.
- ``unpushed_scan_filter``    a Filter sits directly on a parquet scan
                              whose PushedFilters is empty: the
                              predicate reads every row before
                              filtering (usually an expression the
                              source can't push — restructure or accept
                              knowingly).

Usage::

    from extractor.plan_lint import lint_plan, assert_clean
    findings = lint_plan(df)                 # [] when clean
    assert_clean(df, allow=("single_partition_exchange",))

The linter reads ``explain("formatted")`` output only — no execution,
no data access, safe on any plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = ["lint_plan", "assert_clean", "formatted_plan", "RULES"]


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _tree_lines(plan: str) -> list[tuple[int, str]]:
    """The tree section as (depth, text) pairs (detail section excluded)."""
    out: list[tuple[int, str]] = []
    for line in plan.splitlines():
        if line.startswith("(") or "==" in line:
            if out and line.startswith("("):
                break
            continue
        stripped = line.lstrip(" :+-*")
        if not stripped:
            continue
        out.append((len(line) - len(stripped), stripped))
    return out


def _subtree(lines: list[tuple[int, str]], i: int) -> list[str]:
    depth = lines[i][0]
    sub = []
    for d, text in lines[i + 1 :]:
        if d <= depth:
            break
        sub.append(text)
    return sub


def _scan_detail_blocks(plan: str) -> list[str]:
    """Detail-section blocks, one per numbered node."""
    return re.split(r"^\(\d+\)", plan, flags=re.M)[1:]


RULES = (
    "cartesian_product",
    "broadcast_nested_loop",
    "python_row_udf",
    "single_partition_exchange",
    "multi_distinct_expand",
    "unpushed_scan_filter",
)


def lint_plan(df: DataFrame) -> list[dict]:
    """Scale red flags in *df*'s physical plan.  Returns a list of
    ``{"rule", "node", "detail"}`` findings, empty when clean."""
    plan = formatted_plan(df)
    lines = _tree_lines(plan)
    findings: list[dict] = []

    def hit(rule: str, node: str, detail: str) -> None:
        findings.append({"rule": rule, "node": node, "detail": detail})

    for i, (_, text) in enumerate(lines):
        if text.startswith("CartesianProduct"):
            hit("cartesian_product", text,
                "O(left*right) pair generation; give the join an equi "
                "key or a pre-filtering bucketing (cf. temporal."
                "range_join's bin trick)")
        elif text.startswith("BroadcastNestedLoopJoin"):
            hit("broadcast_nested_loop", text,
                "non-equi join; safe only while the broadcast side "
                "stays tiny at production scale")
        elif text.startswith("BatchEvalPython"):
            hit("python_row_udf", text,
                "row-at-a-time Python UDF; rewrite as built-in "
                "functions or an Arrow-batched kernel "
                "(extractor.session.arrow_stage)")
        elif text.startswith("Expand"):
            hit("multi_distinct_expand", text,
                "multi-distinct aggregate multiplies shuffle volume; "
                "consider approx_count_distinct partials")
        elif text.startswith("Exchange") and "SinglePartition" in text:
            hit("single_partition_exchange", text,
                "whole input funnels through one task; fine for tiny "
                "aggregates, fatal for raw rows (subtree: "
                + " <- ".join(_subtree(lines, i)[:3]) + ")")

    # detail section: Exchange args live there, and scans list pushdown
    for block in _scan_detail_blocks(plan):
        head = block.splitlines()[0].strip() if block.splitlines() else ""
        if head.startswith("Exchange") and "SinglePartition" in block:
            if not any(
                f["rule"] == "single_partition_exchange" for f in findings
            ):
                hit("single_partition_exchange", "Exchange",
                    "SinglePartition exchange (from detail section)")

    # Filter directly over a parquet scan with nothing pushed
    for i, (_, text) in enumerate(lines):
        if not text.startswith("Filter"):
            continue
        sub = _subtree(lines, i)
        if sub and sub[0].startswith(("Scan parquet", "ColumnarToRow")):
            scan = next(
                (t for t in sub if t.startswith("Scan parquet")), None
            )
            if scan is None and sub[0].startswith("ColumnarToRow"):
                scan = next(
                    (t for t in sub[1:] if t.startswith("Scan parquet")),
                    None,
                )
            if scan is not None and re.search(
                r"PushedFilters: \[\]", plan
            ):
                hit("unpushed_scan_filter", scan,
                    "predicate evaluated after a full-row scan; "
                    "restructure so the source can push it, or accept "
                    "knowingly")
                break

    return findings


def assert_clean(df: DataFrame, allow: tuple = ()) -> None:
    """Raise ``AssertionError`` listing findings whose rule is not in
    *allow* — the one-liner for CI plan gates on user pipelines."""
    bad = [f for f in lint_plan(df) if f["rule"] not in allow]
    if bad:
        raise AssertionError(
            "plan lint: "
            + "; ".join(f"{f['rule']} at {f['node']}" for f in bad)
        )
