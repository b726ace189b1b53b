"""Plan inspection — the ``topology.describe()`` analog (reference
JoinsExample.scala:97) plus scale-hygiene assertions used in tests.

``explain_str`` captures the formatted physical plan; the assert helpers
let tests verify that filters reach the parquet scan (PushedFilters),
projections prune columns (ReadSchema), and dimension joins broadcast —
the properties that decide whether a plan survives a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def describe(df: DataFrame, mode: str = "formatted") -> str:
    """Print + return the plan (the reference prints topology.describe())."""
    s = explain_str(df, mode)
    print(s)
    return s


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment appears in a PushedFilters clause of the scan."""
    plan = explain_str(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    blob = "\n".join(pushed)
    for frag in fragments:
        assert frag in blob, f"filter {frag!r} not pushed to scan:\n{plan}"


def assert_broadcast_join(df: DataFrame, expect: int = 1) -> None:
    """Assert the plan contains >= expect broadcast joins (dimension-join
    hygiene: the big fact side must not shuffle for a small dim)."""
    plan = explain_str(df)
    n = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert n >= expect, f"expected >= {expect} broadcast joins:\n{plan}"
