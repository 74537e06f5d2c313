"""Count the Spark jobs a piece of driver code launches."""

from __future__ import annotations

import itertools

_GROUPS = itertools.count()


def jobs_launched(spark, fn):
    """Run ``fn`` under a fresh Spark job group; return (result, number
    of Spark jobs it launched). Job events reach the status tracker
    through the listener bus asynchronously, so the bus is drained
    before the count."""
    sc = spark.sparkContext
    group = f"jobs_launched_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
