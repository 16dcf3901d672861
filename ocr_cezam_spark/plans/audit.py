"""Physical-plan audit helpers.

The scale contract (SURVEY.md section 4) is checked mechanically: filters
and projections must reach the parquet scan (PushedFilters / ReadSchema),
small dims must broadcast, and native expressions must sit inside
WholeStageCodegen spans. tests/test_plans.py asserts these on the real
queries so a regression that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def assert_column_pruned(df: DataFrame, table_hint: str, max_cols: int) -> None:
    """The scan's ReadSchema must carry at most max_cols columns."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line and table_hint in plan:
            n = line.count(",") + 1
            assert n <= max_cols, f"scan reads {n} cols (> {max_cols}): {line}"
            return
    raise AssertionError(f"no ReadSchema found in plan:\n{plan}")


def assert_has(df: DataFrame, *needles: str) -> None:
    plan = formatted_plan(df)
    for needle in needles:
        assert needle in plan, f"'{needle}' missing from plan:\n{plan}"
