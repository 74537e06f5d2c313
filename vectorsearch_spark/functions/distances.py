"""Distance / scoring column expressions (C1-C9 in SURVEY §2.7).

Reference semantics: ``util/Distances.java:31-153`` (l2, l2Squared, dot,
norm, cosine with zero-norm guard) and the score/distance convention in
``api/SearchResult.java:5-18`` + ``fdb/FdbVectorIndex.java:686-694,
1004-1020`` (L2: score = -distance; COSINE: score = similarity,
distance = 1 - similarity).

Implementation stance: higher-order functions (``zip_with`` /
``aggregate``) over ``array<float>`` columns, accumulating in DOUBLE.
They run JVM-side with no Python round trip, but NOT inside
whole-stage codegen: ``ZipWith``, ``ArrayAggregate`` and
``ArrayTransform`` are ``CodegenFallback`` expressions (Spark 4.1.2), so
they evaluate through the interpreted path inside a generated stage.
Bulk KNN uses the NumPy/GEMM path in ``operators/knn.py`` instead,
the batch-throughput equivalent of the reference's SIMD kernels
(jdk.incubator.vector FMA).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vectorsearch_spark.config import Metric


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def l2_squared(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ-bᵢ)² in double precision (Distances.java:48-94).

    Ordering-preserving and sqrt-free — prefer for top-k comparisons.
    """
    diffsq = F.zip_with(
        _c(a), _c(b), lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.aggregate(diffsq, F.lit(0.0), lambda acc, v: acc + v)


def l2(a: Column | str, b: Column | str) -> Column:
    """√Σ(aᵢ-bᵢ)² (Distances.java:31-64)."""
    return F.sqrt(l2_squared(a, b))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢbᵢ (Distances.java:103-118)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    """√Σaᵢ² (Distances.java:126-140)."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """dot/(‖a‖‖b‖); 0.0 when either norm is zero (Distances.java:149-153)."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def normalize(a: Column | str) -> Column:
    """a/‖a‖ as array<double>; passthrough (cast) for zero vectors.

    Used by the optional normalize-on-read re-rank
    (fdb/FdbVectorIndex.java:823-826, 1006-1013).

    Catalyst re-evaluates expressions referenced inside HOF lambdas per
    array element, so a naive ``transform(a, x -> x / norm(a))`` is
    O(d²) per row. ``array_repeat`` materializes the reciprocal norm
    ONCE per row into a d-length array; the ``zip_with`` lambda then
    only reads elements — O(d) total.
    """
    n = norm(a)
    inv = F.when(n == 0.0, F.lit(1.0)).otherwise(F.lit(1.0) / n)
    return F.zip_with(
        _c(a), F.array_repeat(inv, F.size(_c(a))), lambda x, r: x.cast("double") * r
    )


def distance_for_metric(a: Column | str, b: Column | str, metric: Metric | str) -> Column:
    """Distance under the index metric (C6 convention).

    Cosine distance is clamped at 0: fp error can make a self-pair's
    similarity 1+1ulp, whose raw distance −2.2e-16 rounds to **−0.0** in
    sign-preserving engines (DuckDB) but **+0.0** in Spark's
    BigDecimal-based ``round`` — equal values, different bytes. Distance
    is mathematically ≥ 0 (Cauchy–Schwarz), so the clamp is
    semantics-preserving and makes the contract engine-proof.
    """
    metric = Metric(metric)
    if metric == Metric.L2:
        return l2(a, b)
    return F.greatest(F.lit(1.0) - cosine(a, b), F.lit(0.0))


def score_for_metric(a: Column | str, b: Column | str, metric: Metric | str) -> Column:
    """Score under the index metric: L2 → -distance; COSINE → similarity.

    Higher score = better match, matching SearchResult ordering
    (api/SearchResult.java:5-18).
    """
    metric = Metric(metric)
    if metric == Metric.L2:
        return -l2(a, b)
    return cosine(a, b)


def score_from_distance(dist: Column, metric: Metric | str) -> Column:
    metric = Metric(metric)
    if metric == Metric.L2:
        return -dist
    return F.lit(1.0) - dist
