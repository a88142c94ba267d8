"""Physical-plan inspection utilities (SURVEY §4).

The reference has no planner; its manual optimizations (header reads only
chunk 0, 8k-char truncation, cheap-first predicates) map to Catalyst
behaviors we must *verify*, not assume. These helpers read the executed
plan and assert the properties that matter at 100 TB:

* filters reached the parquet scan (``PushedFilters``);
* the scan reads only the referenced columns (``ReadSchema`` pruning);
* small dimensions joined via ``BroadcastHashJoin`` (no shuffle);
* shuffle (Exchange) count matches the design (0 for extraction,
  1 for the conversation windows, …);
* whole-stage codegen covers the expression layer.

Used by tests/test_plans.py and tests/test_ops.py, and handy at the REPL:
``print(plan_report(df))``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') as a string — unlike executedPlan().toString()
    it does not truncate PushedFilters/ReadSchema lists."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (AQE reuse shows as Exchange once).

    Counts EVERY shuffle flavor — hash, range, round-robin
    (``repartition(n)``) and SinglePartition (global no-group
    aggregates) — not just hash/range: an assertion that misses
    RoundRobin would certify a repartitioning plan as shuffle-free.
    BroadcastExchange is excluded (it is a broadcast, not a shuffle)."""
    plan = executed_plan(df)
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
            plan,
        )
    )


def has_broadcast_join(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def pushed_filters(df: DataFrame) -> list[str]:
    """The filters the parquet scan will evaluate natively."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]\n]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema clauses — what each scan actually deserializes.

    Captures to end-of-line: a nested type (``array<struct<...>>``)
    contains '>' characters, and a first-'>' match would truncate the
    schema and misreport the column set."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))]


def _top_level_fields(inner: str) -> list[str]:
    """Split a struct body on TOP-LEVEL commas only (angle-bracket depth
    aware) so nested struct/array fields stay one field."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(inner):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(inner[start:i])
            start = i + 1
    out.append(inner[start:])
    return [f for f in (s.strip() for s in out) if f]


def scan_columns(df: DataFrame) -> set[str]:
    cols: set[str] = set()
    for schema in read_schemas(df):
        inner = schema[len("struct<"):].rstrip(">")
        for field in _top_level_fields(inner):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans. Under AQE the final plan (and
    its codegen markers) exists only after an action — run one first."""
    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))


def plan_report(df: DataFrame) -> str:
    """Human-readable summary for .explain-driven iteration.

    NOTE: each helper renders its own plan string (a JVM round-trip);
    this report accepts ~6 renders for simplicity — fine interactively,
    but hot code should render once and parse the string itself."""
    return "\n".join(
        [
            f"exchanges        : {exchange_count(df)}",
            f"broadcast join   : {has_broadcast_join(df)}",
            f"pushed filters   : {pushed_filters(df)}",
            f"scan columns     : {sorted(scan_columns(df))}",
            f"codegen stages   : {codegen_stage_count(df)}",
        ]
    )
