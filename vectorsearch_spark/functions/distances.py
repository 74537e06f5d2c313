"""Exact distances (C1-C9 in SURVEY §2.7): one NumPy kernel behind the
Column API, the ``vs_*`` SQL functions and the KNN re-score.

Reference semantics: ``util/Distances.java:31-153`` (l2, l2Squared, dot,
norm, cosine with zero-norm guard) and the score/distance convention in
``api/SearchResult.java:5-18`` + ``fdb/FdbVectorIndex.java:686-694,
1004-1020`` (L2: score = -distance; COSINE: score = similarity,
distance = 1 - similarity).

``kernel`` is the one implementation: float64, every Σ a sequential
left fold from 0.0 (the loop order of Distances.java), so a value does
not depend on the batch it is computed in. The Column functions are
scalar Arrow UDFs over it, built on first use (building one needs an
active SparkContext); ``functions/sql.py`` registers the same UDFs as
``vs_*``, and ``operators/knn.py`` ``exact_topk`` (the KNN and index
search re-rank) calls ``kernel`` directly. A null array, a null element or a length mismatch gives null.
(Spark's ``zip_with``/``aggregate``, which these replace, are
``CodegenFallback`` in Spark 4.1.2: they ran interpreted.)

``sq_l2_matrix`` is the one all-pairs GEMM expansion ‖x‖² − 2x·yᵀ +
‖y‖²; callers clamp or take the root as they need (PQ must not clamp:
clamping creates argmin ties).

Distance-like formulas kept elsewhere on purpose: ``similarity._d2_sql``
(an argmin over k literal centroids inside one SQL projection), the LSH
sign projections (hashing), the PQ ADC lookup in ``ann_ivfpq_join``
(approximate, a LUT sum) and ``projection.py`` (quantization error).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from vectorsearch_spark.config import Metric

_DISTANCE_OP = {Metric.L2: "l2", Metric.COSINE: "cosine_distance"}


# rows per kernel pass: keeps the (d, rows) temporaries in cache
_CHUNK = 512


def _fold(p: np.ndarray) -> np.ndarray:
    """Column sums of C-contiguous (d, n) ``p``, each a left fold from 0.0."""
    acc = np.zeros(p.shape[1])
    for row in p:
        acc += row
    return acc


@np.errstate(invalid="ignore", divide="ignore", over="ignore")
def kernel(op: str, a: np.ndarray, b: np.ndarray | None = None) -> np.ndarray:
    """``op`` over the rows of float64 (n, d) ``a`` (and ``b``): (n,)
    values, or (n, d) for ``normalize``.

    l2_squared Σ(aᵢ-bᵢ)² (Distances.java:48-94); l2 its root
    (:31-64); dot Σaᵢbᵢ (:103-118); norm √Σaᵢ² (:126-140); cosine
    dot/(‖a‖‖b‖), 0.0 when either norm is 0 (:149-153);
    cosine_distance 1 − cosine clamped at 0; normalize a·(1/‖a‖),
    zero vectors passed through."""
    if len(a) > _CHUNK:
        cut = range(_CHUNK, len(a), _CHUNK)
        bs = np.split(b, cut) if b is not None else [None] * (len(cut) + 1)
        return np.concatenate([kernel(op, x, y) for x, y in zip(np.split(a, cut), bs)])
    at = np.ascontiguousarray(a.T)
    if op in ("l2_squared", "l2"):
        diff = at - b.T
        diff *= diff
        s = _fold(diff)
        return np.sqrt(s) if op == "l2" else s
    bt = at if b is None else np.ascontiguousarray(b.T)
    if op == "dot":
        return _fold(at * bt)
    na = np.sqrt(_fold(at * at))
    if op == "norm":
        return na
    if op == "normalize":
        inv = 1.0 / np.where(na == 0.0, 1.0, na)
        return a * inv[:, None]
    nb = np.sqrt(_fold(bt * bt))
    zero = (na == 0.0) | (nb == 0.0)
    cos = np.where(zero, 0.0, _fold(at * bt) / np.where(zero, 1.0, na * nb))
    if op == "cosine":
        return cos
    # Clamped at 0: fp error can put a self-pair's similarity at
    # 1+1ulp, whose raw distance −2.2e-16 rounds to −0.0 in
    # sign-preserving engines (DuckDB) but +0.0 in Spark's
    # BigDecimal-based ``round``; distance is ≥ 0 by Cauchy–Schwarz.
    return np.maximum(1.0 - cos, 0.0)


def pair_distance(a: np.ndarray, b: np.ndarray, metric: Metric | str) -> np.ndarray:
    """Row-wise exact distance under the index metric."""
    return kernel(_DISTANCE_OP[Metric(metric)], a, b)


def sq_l2_matrix(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """(len(x), len(y)) squared L2 by the GEMM expansion, unclamped:
    cancellation can leave it slightly negative near 0."""
    return (
        np.einsum("ij,ij->i", x, x)[:, None]
        - 2.0 * (x @ y.T)
        + np.einsum("ij,ij->i", y, y)[None, :]
    )


def _rows(arr: pa.Array):
    """(offsets into values, float64 values, lengths, usable) of a list
    array; a row is usable when it is not null and holds no null."""
    offs = arr.offsets.to_numpy().astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    usable = ~arr.is_null().to_numpy(zero_copy_only=False)
    if arr.values.null_count:
        holed = arr.values.is_null().to_numpy(zero_copy_only=False)
        seen = np.concatenate(([0], np.cumsum(holed)))
        usable &= seen[offs[1:]] == seen[offs[:-1]]
    return offs, vals, np.diff(offs), usable


def _arrow_apply(op: str, *cols: pa.Array) -> pa.Array:
    """``kernel`` over Arrow list columns, one call per row length."""
    parts = [_rows(c) for c in cols]
    offs, _, lens, ok = parts[0]
    for _, _, plens, pok in parts[1:]:
        ok = ok & pok & (plens == lens)
    out = np.zeros(offs[-1] - offs[0] if op == "normalize" else len(lens))
    for length in np.unique(lens[ok]):
        rows = np.nonzero(ok & (lens == length))[0]
        cells = np.arange(length)
        if len(rows) == len(lens):  # one length, no null: rows are contiguous
            mats = [v[o[0] : o[-1]].reshape(len(rows), length) for o, v, _, _ in parts]
        else:
            mats = [v[o[rows][:, None] + cells] for o, v, _, _ in parts]
        res = kernel(op, *mats)
        if op == "normalize":
            out[offs[rows][:, None] + cells - offs[0]] = res
        else:
            out[rows] = res
    if op != "normalize":
        return pa.array(out, pa.float64(), mask=~ok)
    values = pa.array(out, pa.float64(), mask=np.repeat(~ok, lens))
    return pa.ListArray.from_arrays(
        pa.array(offs - offs[0], pa.int32()), values, mask=cols[0].is_null()
    )


_UDFS: dict[str, tuple] = {}


def udf(op: str):
    """The scalar Arrow UDF ``vs_<op>`` of ``kernel`` op ``op``, one
    per SparkContext."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if _UDFS.get(op, (None,))[0] is not sc:
        if op in ("norm", "normalize"):
            def fn(a: pa.Array) -> pa.Array:
                return _arrow_apply(op, a)
        else:
            def fn(a: pa.Array, b: pa.Array) -> pa.Array:
                return _arrow_apply(op, a, b)
        fn.__name__ = fn.__qualname__ = f"vs_{op}"
        _UDFS[op] = (sc, F.arrow_udf(fn, "array<double>" if op == "normalize" else "double"))
    return _UDFS[op][1]


def l2_squared(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ-bᵢ)²: ordering-preserving and sqrt-free, for top-k."""
    return udf("l2_squared")(a, b)


def l2(a: Column | str, b: Column | str) -> Column:
    """√Σ(aᵢ-bᵢ)²."""
    return udf("l2")(a, b)


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢbᵢ."""
    return udf("dot")(a, b)


def norm(a: Column | str) -> Column:
    """√Σaᵢ²."""
    return udf("norm")(a)


def cosine(a: Column | str, b: Column | str) -> Column:
    """dot/(‖a‖‖b‖); 0.0 when either norm is zero."""
    return udf("cosine")(a, b)


def normalize(a: Column | str) -> Column:
    """a/‖a‖ as array<double>, zero vectors passed through; used by the
    optional normalize-on-read re-rank (fdb/FdbVectorIndex.java:823-826,
    1006-1013)."""
    return udf("normalize")(a)


def distance_for_metric(a: Column | str, b: Column | str, metric: Metric | str) -> Column:
    """Distance under the index metric (C6 convention): L2 distance,
    or cosine distance 1 − cosine clamped at 0 (see ``kernel``)."""
    return udf(_DISTANCE_OP[Metric(metric)])(a, b)


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
