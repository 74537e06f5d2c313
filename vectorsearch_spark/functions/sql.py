"""SQL surface for the distance/score functions: the Column API's Arrow
UDFs (``functions/distances.py``) registered with ``spark.udf.register``
as ``vs_*``, so ``spark.sql`` and the Column API run one kernel.

The reference exposes distances only through its Java API
(util/Distances.java:31-153); this gives ``spark.sql`` users the same
kernels with the same semantics (C1-C6 in SURVEY §2.7), including the
zero-norm cosine guard and the clamp of the cosine distance at 0.
"""

from __future__ import annotations

import weakref

from pyspark.sql import SparkSession

from vectorsearch_spark.functions.distances import udf

_OPS = ("dot", "l2_squared", "l2", "norm", "cosine", "cosine_distance")

# weak refs: a GC'd session drops out, so a new session that happens to
# reuse the old object's id is never wrongly skipped
_REGISTERED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the vs_* SQL functions on the session; returns names.
    A session this module already registered is skipped, so repeated
    calls do not flood driver logs with ``SimpleFunctionRegistry``
    replace-warnings; the skip is keyed on the session, not on
    ``functionExists``, so a same-named function someone else
    registered is replaced with the canonical one."""
    if spark not in _REGISTERED_SESSIONS:
        for op in _OPS:
            spark.udf.register(f"vs_{op}", udf(op))
        _REGISTERED_SESSIONS.add(spark)
    return sorted(f"vs_{op}" for op in _OPS)
