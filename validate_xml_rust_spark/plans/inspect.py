"""Physical-plan inspection helpers — the engine's ".explain and iterate"
discipline made assertable.

Used by tests and by developers to prove the plans have the shape the
scale story depends on: filters pushed to the parquet scan, small dims
broadcast, no accidental cartesian products, codegen covering the hot
projections (SURVEY.md §4: what Catalyst must be giving us for free)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain(df: DataFrame, mode: str) -> str:
    # same JVM entry point DataFrame.explain() uses (mode as a string)
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def has_broadcast_join(df: DataFrame) -> bool:
    p = physical_plan(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the formatted plan (empty string if the
    scan pushed nothing)."""
    plan = formatted_plan(df)
    return "\n".join(line for line in plan.splitlines() if "PushedFilters" in line)


def scan_read_schema(df: DataFrame) -> str:
    """ReadSchema lines — proves column pruning reached the scan."""
    plan = formatted_plan(df)
    return "\n".join(line for line in plan.splitlines() if "ReadSchema" in line)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (broadcast exchanges are
    counted separately by count_broadcast_exchanges)."""
    p = physical_plan(df)
    return sum(
        1
        for line in p.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "ReusedExchange" not in line
    )


def count_broadcast_exchanges(df: DataFrame) -> int:
    return sum(1 for line in physical_plan(df).splitlines() if "BroadcastExchange" in line)


def has_whole_stage_codegen(df: DataFrame) -> bool:
    # AQE's pre-execution plan (isFinalPlan=false) hides codegen spans;
    # the "codegen" explain mode forces the codegen-phase view.
    return "WholeStageCodegen" in _explain(df, "codegen")
