"""The one bounded driver collect behind the operators' driver fast paths.

Several operators finish small intermediates on the driver instead of
paying a distributed barrier (an eager ``localCheckpoint`` pin, a
label-propagation round) whose fixed per-job overhead dwarfs the data:
the KMV and quantile sketch builds (:mod:`operators.kmv`,
:mod:`operators.qsketch`) and connected components
(:mod:`operators.dedup`).  Each such collect goes through
:func:`collect_bounded`, so one bound caps what any of them may hold and
each caller keeps its distributed formulation as the past-the-bound
fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Rows a driver fast path may collect in one step.  The collected rows are
# narrow tuples (group keys plus a hash or value, or an edge), ~100 B
# each, so the bound holds ~10 MB on the driver.
DRIVER_MAX_ROWS = 100_000


def collect_bounded(df: DataFrame) -> list | None:
    """``df``'s rows if there are at most ``DRIVER_MAX_ROWS`` of them,
    else None (the caller then takes its distributed path).  The
    ``limit(n + 1)`` stops the collect once the bound is exceeded, so the
    driver never holds more than ``n + 1`` rows."""
    n = DRIVER_MAX_ROWS
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None
