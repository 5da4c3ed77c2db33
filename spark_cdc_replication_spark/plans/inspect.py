"""Physical-plan inspection helpers.

No custom Catalyst rules are needed anywhere in this engine (SURVEY.md
§4 — every operator is stock DataFrame/SQL algebra); what we DO need
from the plan layer is *verification* that Catalyst produced the shape
we designed for: pushdown reached the scan, dims broadcast, windows
share exchanges.  These helpers back tests/test_plans.py and are handy
in notebooks (`print(executed_plan(df))`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan as a string (pre-execution; AQE may still
    re-plan at runtime, which only improves the shapes asserted)."""
    return df._jdf.queryExecution().executedPlan().toString()


def read_schemas(df: DataFrame) -> list[str]:
    """Columns actually read by each file scan, in plan order."""
    chunks = executed_plan(df).split("ReadSchema: ")[1:]
    return [c.splitlines()[0] for c in chunks]


def final_plan(df: DataFrame) -> str:
    """The post-AQE physical plan: executes the query, then returns the
    final adaptive plan only (AdaptiveSparkPlan's toString appends the
    initial plan after ``== Initial Plan ==`` — strip it so node counts
    aren't doubled).  Use this to assert what AQE actually chose, e.g.
    that a join with no broadcast hint still broadcast at test scale."""
    df.collect()
    plan = executed_plan(df)
    return plan.split("== Initial Plan ==")[0]


def count_table_scans(df: DataFrame, table_file: str) -> int:
    """How many FileScan nodes read ``table_file`` (e.g.
    ``"lineitem.parquet"``) in the final plan — the duplicate-subtree
    detector: Spark does not reuse a repeated scan+aggregate subtree
    (SCALE.md "Fact-scan deduplication"), so every count above the
    number of distinct ROLES the table plays is a plan bug."""
    plan = final_plan(df)
    return sum(
        1 for line in plan.splitlines() if "FileScan" in line and table_file in line
    )
