"""Brute-force exact KNN (J5/T2/T4 in SURVEY §2): query×vector scoring
with per-partition partial top-k and a global merge.

Reference semantics: ``fdb/FdbVectorIndex.java:660-725`` (brute-force
segment search: scan → filter deleted → score → sort → take k) and the
global k-way merge at ``fdb/FdbVectorIndex.java:432-437``.

Scale story (the part that must survive 100 TB):

- The query batch is small and broadcast; the vector table is huge and
  is only ever scanned once, partition-parallel, with column pruning
  (only id + embedding columns are read from Parquet).
- ``knn_join`` computes distances with NumPy GEMM inside
  ``mapInPandas`` (Arrow-batched — the batch analog of the reference's
  SIMD kernels, Distances.java:15) and emits **at most Q×k rows per
  input partition** (partial top-k = map-side combine). The final exact
  merge therefore shuffles O(partitions × Q × k) rows, never O(N×Q).
- ``partial_topk`` is two steps: ``gemm_heads`` (each query's top-k by
  the GEMM distances) and ``exact_topk`` (exact-kernel re-score, sort
  by (query, distance, id), cap). ``exact_topk`` is also the one
  re-rank of the index search (``index/search.py``), for every mode.
- ``knn_join_expr`` is the cross-join variant (the ``distance_for_metric``
  column + window). It shuffles all Q×N scored pairs, so it is kept for
  small inputs and as a cross-check oracle of the GEMM path.

Determinism: ties broken by (distance asc, id asc) everywhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_spark.config import Metric
from vectorsearch_spark.functions.distances import (
    distance_for_metric,
    pair_distance,
    score_from_distance,
    sq_l2_matrix,
)
from vectorsearch_spark.functions.litarrays import lit_double_array

_PAIR_SCHEMA = "query_id long, id long, distance double"


def _query_matrix(queries: list[tuple[int, list[float]]]) -> tuple[np.ndarray, np.ndarray]:
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    return qids, qmat


def _batch_distances(vmat: np.ndarray, qmat: np.ndarray, metric: Metric) -> np.ndarray:
    """(n_vectors, n_queries) distance matrix in double precision."""
    if metric == Metric.L2:
        d2 = sq_l2_matrix(vmat, qmat)
        np.maximum(d2, 0.0, out=d2)
        return np.sqrt(d2)
    # cosine distance = 1 - sim, zero-norm rows get sim 0 (Distances.java:149-153)
    vn = np.linalg.norm(vmat, axis=1)
    qn = np.linalg.norm(qmat, axis=1)
    sim = (vmat @ qmat.T) / np.where(vn == 0.0, 1.0, vn)[:, None]
    sim /= np.where(qn == 0.0, 1.0, qn)[None, :]
    sim[vn == 0.0, :] = 0.0
    sim[:, qn == 0.0] = 0.0
    return 1.0 - sim


def gemm_heads(vmat: np.ndarray, qmat: np.ndarray, k: int, metric: Metric) -> np.ndarray:
    """(Q, min(k, n)) row positions: each query's k nearest rows of
    ``vmat`` (n, d) by the GEMM distances, unordered. The GEMM expansion
    carries ~1e-8 cancellation error (exact L2 matches come out nonzero)
    and its cosine can differ in the last ulp, enough to flip
    round(·,4), so callers re-score the heads with ``exact_topk``."""
    n = len(vmat)
    kk = min(k, n)
    if kk == n:
        return np.tile(np.arange(n), (len(qmat), 1))
    dist = _batch_distances(vmat, qmat, metric)  # (n, Q)
    return np.stack([np.argpartition(dist[:, j], kk - 1)[:kk] for j in range(len(qmat))])


# candidate pairs gathered per kernel call in ``exact_topk``: bounds the
# two gathered (pairs, d) matrices
_PAIR_BLOCK = 4096


def exact_topk(
    ids: np.ndarray, vmat: np.ndarray, vpos: np.ndarray,
    qids: np.ndarray, qmat: np.ndarray, qpos: np.ndarray, k: int, metric: Metric,
) -> pd.DataFrame:
    """Exact re-rank of candidate pairs: pair i is row ``vpos[i]`` of
    ``vmat`` (id ``ids[vpos[i]]``) against query ``qpos[i]`` of ``qmat``.
    Every pair is re-scored by the exact kernel; the result is
    (query_id, id, distance) rows ordered by (query, distance, id) and
    capped at ``k`` per query. ``vmat`` and ``qmat`` are float64."""
    dist = np.concatenate(
        [np.empty(0)]
        + [
            pair_distance(vmat[vpos[i : i + _PAIR_BLOCK]], qmat[qpos[i : i + _PAIR_BLOCK]], metric)
            for i in range(0, len(vpos), _PAIR_BLOCK)
        ]
    )
    hit_ids = ids[vpos]
    order = np.lexsort((hit_ids, dist, qpos))
    qpos, hit_ids, dist = qpos[order], hit_ids[order], dist[order]
    keep = np.arange(len(qpos)) - np.searchsorted(qpos, qpos) < k
    return pd.DataFrame(
        {"query_id": qids[qpos[keep]], "id": hit_ids[keep], "distance": dist[keep]}
    )


def partial_topk(
    ids: np.ndarray, vmat: np.ndarray, qids: np.ndarray, qmat: np.ndarray,
    k: int, metric: Metric,
) -> pd.DataFrame:
    """Per-query top-k of one block of vectors: (query_id, id, distance)
    rows, ≤ k per query, ordered by (distance, id). ``vmat`` (n, d) and
    ``qmat`` (Q, d) are float64."""
    heads = gemm_heads(vmat, qmat, k, metric)
    qpos = np.repeat(np.arange(len(qids)), heads.shape[1])
    return exact_topk(ids, vmat, heads.ravel(), qids, qmat, qpos, k, metric)


def _partial_topk_mapper(queries, k: int, metric: Metric, id_col: str, vec_col: str):
    qids, qmat = _query_matrix(queries)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield partial_topk(ids, vmat, qids, qmat, k, metric)

    return mapper


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: Metric | str = Metric.L2,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    max_driver_queries: int | None = None,
) -> DataFrame:
    """Exact KNN join: for every query row, the k nearest vector rows.

    Returns (query_id, id, distance, score, rank). The query side is
    collected to the driver and closed over into the Arrow mapper — it
    must be a *batch* of queries (thousands, not millions); that is the
    same contract as the reference's one-query-at-a-time API, widened
    to batches. A query side over ``max_driver_queries`` (default
    ``guards.MAX_DRIVER_QUERIES``) raises ``QuerySideTooLarge`` instead
    of OOMing the driver; for such inputs use
    ``operators.similarity.ann_ivf_join(query_mode="distributed")``
    (or ``ann_lsh_join``, bucketed) instead.
    """
    from vectorsearch_spark.operators.guards import MAX_DRIVER_QUERIES, collect_bounded

    metric = Metric(metric)
    qrows = collect_bounded(
        queries.select(query_id_col, query_vec_col),
        max_driver_queries if max_driver_queries is not None else MAX_DRIVER_QUERIES,
        what="knn_join query side",
        alternative='similarity.ann_ivf_join(query_mode="distributed") '
        "(nprobe=n_centroids for exact results) or ann_lsh_join",
    )
    if not qrows:
        spark = vectors.sparkSession
        return spark.createDataFrame([], _PAIR_SCHEMA + ", score double, rank int")
    qlist = [(r[0], list(r[1])) for r in qrows]

    pruned = vectors.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    )
    partial = pruned.mapInPandas(
        _partial_topk_mapper(qlist, k, metric, id_col, vec_col), schema=_PAIR_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
        .select("query_id", "id", "distance", "score", "rank")
    )


def knn_join_expr(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: Metric | str = Metric.L2,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Cross-join exact KNN join (broadcast queries × vectors, the
    ``distance_for_metric`` column, window top-k). Cross-check path for ``knn_join``;
    shuffles all scored pairs, so use only at modest N×Q.
    """
    metric = Metric(metric)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_qvec")
    )
    pairs = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("_vvec")
    ).crossJoin(F.broadcast(q))
    scored = pairs.withColumn("distance", distance_for_metric("_vvec", "_qvec", metric))
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
        .select("query_id", "id", "distance", "score", "rank")
    )


def brute_force_topk(
    vectors: DataFrame,
    query_vector: list[float],
    k: int = 10,
    metric: Metric | str = Metric.L2,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-query top-k via expressions + global orderBy().limit(k).

    Catalyst plans this as TakeOrderedAndProject: per-partition partial
    top-k then a driver-side merge — the T2+T4 pattern for free.
    """
    metric = Metric(metric)
    qcol = lit_double_array(query_vector)
    scored = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        distance_for_metric(F.col(vec_col), qcol, metric).alias("distance"),
    )
    return (
        scored.orderBy(F.col("distance").asc(), F.col("id").asc())
        .limit(k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
    )


def range_join(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: Metric | str = Metric.L2,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    max_driver_queries: int | None = None,
) -> DataFrame:
    """Exact RADIUS (range) search: every (query, vector) pair with
    distance ≤ ``radius`` — the threshold sibling of ``knn_join``
    (distance-threshold dedup, "all docs within ε of this centroid",
    recall-complete candidate generation).

    Returns (query_id, id, distance, score). Scale shape: STRICTLY
    better than top-k — each Arrow batch GEMMs against the broadcast
    query matrix and emits its local matches, so the plan has NO
    exchange, no window, no global top-k state; the only cluster
    operation is the vector scan itself, and output size is the true
    result size (radius-bounded). Same bounded-Q broadcast contract as
    ``knn_join`` — a query side over ``max_driver_queries`` raises
    ``QuerySideTooLarge``; for unbounded query sides (ε-dedup, where
    the corpus queries itself) use
    ``similarity.ivf_range_join(query_mode="distributed")`` — same
    exact results, never collects the query table.
    """
    import pandas as pd

    from vectorsearch_spark.operators.guards import MAX_DRIVER_QUERIES, collect_bounded

    metric = Metric(metric)
    r = float(radius)
    if not r >= 0.0:
        raise ValueError("radius must be ≥ 0")
    qrows = collect_bounded(
        queries.select(query_id_col, query_vec_col),
        max_driver_queries if max_driver_queries is not None else MAX_DRIVER_QUERIES,
        what="range_join query side",
        alternative='similarity.ivf_range_join(query_mode="distributed") '
        "(exact, cell-pruned, query side never collected)",
    )
    spark = vectors.sparkSession
    if not qrows:
        return spark.createDataFrame([], _PAIR_SCHEMA + ", score double")
    qids, qmat = _query_matrix([(row[0], list(row[1])) for row in qrows])

    def mapper(batches: "Iterator") -> "Iterator":
        for pdf in batches:
            if not len(pdf):
                continue
            vmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            d = _batch_distances(vmat, qmat, metric)
            vi, qi = np.nonzero(d <= r)
            if len(vi):
                yield pd.DataFrame(
                    {
                        "query_id": qids[qi],
                        "id": ids[vi].astype(np.int64),
                        "distance": d[vi, qi],
                    }
                )

    pruned = vectors.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    )
    out = pruned.mapInPandas(mapper, schema=_PAIR_SCHEMA)
    return out.withColumn(
        "score", score_from_distance(F.col("distance"), metric)
    ).select("query_id", "id", "distance", "score")
