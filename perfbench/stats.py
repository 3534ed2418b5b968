"""Order statistics used by every timing the benchmark reports.

Every timing is summarised by its median and quartiles, never by a
best-of-N: a minimum hides exactly the run-to-run spread a regression
check has to see.
"""

from __future__ import annotations

import statistics


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives
    them; a single sample is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3

