"""Physical-plan introspection: the library behind ``tools/plan_gate.py``
and the plan-shape tests.

Plan text is the ground truth for every scale claim this repo makes —
pushdown reached the scan, the small side broadcast, no accidental
cartesian — so assertions run against ``explain("formatted")`` output
rather than trusting the DataFrame API to have done the right thing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The full formatted physical plan (what ``df.explain("formatted")``
    prints), untruncated — ``executedPlan().toString()`` elides fields."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def check_plan(
    plan: str, must: list[str], must_not: list[str]
) -> tuple[list[str], list[str]]:
    """Return (missing must-patterns, present forbidden-patterns) for a
    formatted plan; both empty = the plan is the one we want."""
    missing = [p for p in must if not re.search(p, plan)]
    present = [p for p in must_not if re.search(p, plan)]
    return missing, present


# An un-partitioned window spec prints its ORDER column (which always
# carries a sort direction) as the FIRST windowspecdefinition argument;
# a partitioned spec leads with the partition columns, which never do.
_UNPART_WSPEC = re.compile(
    r"windowspecdefinition\([^,()]+? (?:ASC|DESC) NULLS (?:FIRST|LAST)"
)


def unpartitioned_windows(plan: str) -> list[str]:
    """The un-partitioned window specs in a formatted plan.
    A window with no partitionBy plans Exchange SinglePartition + a global
    sort — the one shape that cannot scale out — so the plan gate asserts
    this list is empty for every query except documented reduced-input
    exceptions (windows over an already-aggregated sketch of bounded row
    count, e.g. sketch_histogram_quantiles' 64-bin cumulative pass)."""
    return [m.group(0) for m in _UNPART_WSPEC.finditer(plan)]
