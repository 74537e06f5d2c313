"""Product Quantization: per-subspace k-means training, encoding, and
LUT-based asymmetric distance (A1, C8-C10 in SURVEY §2).

Reference semantics: ``pq/PqTrainer.java:28-91`` (M independent Lloyd's
k-means over sub-vectors, assign = argmin L2², update = mean,
empty-cluster reseed, deterministic seed; called with iters=5, seed=42
from ``tasks/SegmentBuildService.java:180``), ``pq/PqEncoder.java:18-37``
(per-subspace argmin-centroid → one byte), and the query-time LUT at
``fdb/FdbVectorIndex.java:1057-1079``.

Scale story: training/encoding are per-segment, and a segment is
bounded by ``max_segment_size`` — so each runs as ONE Spark task over
one group (``applyInPandas``/``mapInPandas``), exactly mirroring the
reference's one-segment-per-build-worker model. A 100 TB index is many
segments, and Spark schedules the per-segment builds cluster-wide.
NumPy kernels below are Arrow-batched (the batch analog of the
reference's SIMD loops).
"""

from __future__ import annotations

import numpy as np

from vectorsearch_spark.functions.distances import sq_l2_matrix


def kmeans_subspace(
    x: np.ndarray, k: int, iters: int, rng: np.random.Generator
) -> np.ndarray:
    """Lloyd's k-means on one subspace → (k, sub_dim) centroids.

    Deterministic given the rng state; empty clusters are reseeded to
    random data points (PqTrainer.java:62-78 behavior).
    """
    n = x.shape[0]
    if n == 0:
        return np.zeros((k, x.shape[1]), dtype=np.float64)
    init_idx = rng.choice(n, size=min(k, n), replace=False)
    centroids = x[init_idx].astype(np.float64, copy=True)
    if n < k:  # pad with repeats so the codebook always has k rows
        pad = rng.choice(n, size=k - n, replace=True)
        centroids = np.vstack([centroids, x[pad]])
    for _ in range(iters):
        # assign: argmin ||x - c||² via expansion (k is small: ≤256)
        d2 = sq_l2_matrix(x, centroids)
        assign = np.argmin(d2, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members) > 0:
                centroids[c] = members.mean(axis=0)
            else:
                centroids[c] = x[rng.integers(0, n)]
    return centroids


def train_codebook(
    vectors: np.ndarray, m: int, k: int, iters: int, seed: int
) -> np.ndarray:
    """Train M independent subspace codebooks → (m, k, sub_dim).

    ``vectors`` is (n, dim) with dim % m == 0. One rng seeded once drives
    all subspaces, so results are deterministic per (data, seed).
    """
    n, dim = vectors.shape
    if dim % m != 0:
        raise ValueError(f"pq_m={m} must divide dim={dim}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    x = vectors.astype(np.float64, copy=False)
    return np.stack(
        [kmeans_subspace(x[:, s * sub : (s + 1) * sub], k, iters, rng) for s in range(m)]
    )


def encode(vectors: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """PQ-encode (n, dim) against (m, k, sub_dim) → (n, m) uint8 codes.

    Per subspace: argmin-centroid index (PqEncoder.java:18-37).
    """
    n = vectors.shape[0]
    m, k, sub = codebook.shape
    x = vectors.astype(np.float64, copy=False)
    codes = np.empty((n, m), dtype=np.uint8)
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        c = codebook[s]  # (k, sub)
        d2 = sq_l2_matrix(xs, c)
        codes[:, s] = np.argmin(d2, axis=1).astype(np.uint8)
    return codes


def build_lut(codebook: np.ndarray, query: np.ndarray) -> np.ndarray:
    """LUT[m, k] = ||q_sub - centroid||² (fdb/FdbVectorIndex.java:1067-1079).

    O(M·K·sub) once per (query, segment); scanning a code row is then
    M table lookups + a sum.
    """
    m, k, sub = codebook.shape
    q = query.astype(np.float64, copy=False).reshape(m, 1, sub)
    diff = codebook - q
    return np.einsum("mks,mks->mk", diff, diff)


def approx_distances(codes: np.ndarray, lut: np.ndarray) -> np.ndarray:
    """Asymmetric PQ distance² for (n, m) codes against one LUT (m, k):
    Σ_s LUT[s, codes[s]] (fdb/FdbVectorIndex.java:1057-1065)."""
    m = lut.shape[0]
    return lut[np.arange(m)[:, None], codes.T].sum(axis=0)


def opq_train(
    vectors: np.ndarray,
    m: int,
    k: int,
    iters: int = 8,
    pq_iters: int = 5,
    seed: int = 42,
) -> "tuple[np.ndarray, np.ndarray]":
    """Optimized Product Quantization (non-parametric OPQ — Ge et al.,
    CVPR 2013): learn an ORTHOGONAL rotation R that re-mixes dimensions
    before the subspace split, so PQ's independent-subspace assumption
    fits the data. Alternates (a) PQ codebook training + encoding on
    the rotated vectors, (b) the orthogonal-Procrustes update
    R = U·Vᵀ from SVD(Xᵀ·X̂) — each step monotonically reduces
    ‖X·R − X̂‖² (the paper's convergence argument). Plain PQ is the
    R = I special case; on correlated (anisotropic) embeddings the
    rotation strictly reduces reconstruction error, which is the whole
    quantization-quality lever.

    Returns (R (d×d orthogonal), codebook (m, k, sub)); encode rotated
    data with ``encode(x @ R, codebook)``. Deterministic per
    (data, seed). Training input is the same bounded driver-side
    sample contract as ``train_codebook`` (the reference trains per
    segment; OPQ trains once and broadcasts R like a codebook — O(d²)
    state, the index's per-segment builds apply it Arrow-side).
    """
    x = np.asarray(vectors, dtype=np.float64)
    n, d = x.shape
    if d % m != 0:
        raise ValueError(f"pq_m={m} must divide dim={d}")
    r = np.eye(d)
    codebook = None
    for _ in range(iters):
        xr = x @ r
        codebook = train_codebook(xr, m, k, pq_iters, seed)
        xhat = decode(encode(xr, codebook), codebook)
        u, _, vt = np.linalg.svd(x.T @ xhat)
        r = u @ vt
    # final codebook consistent with the final rotation
    codebook = train_codebook(x @ r, m, k, pq_iters, seed)
    return r, codebook


def decode(codes: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """Reconstruct (n, dim) approximations from codes — used by tests to
    bound quantization error."""
    n, m = codes.shape
    sub = codebook.shape[2]
    out = np.empty((n, m * sub), dtype=np.float64)
    for s in range(m):
        out[:, s * sub : (s + 1) * sub] = codebook[s][codes[:, s]]
    return out
