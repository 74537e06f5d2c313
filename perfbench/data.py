"""Seeded inputs and exact ground truth.

Vectors are draws from a clustered Gaussian mixture (real embeddings
cluster). Every stream of draws (base rows, queries, later inserts) has
its own generator derived from ``(seed, stream)``, so one stream's size
never shifts another's values.
"""

from __future__ import annotations

import numpy as np

DIM = 128
CLUSTERS = 32
# Within-cluster spread relative to the unit-variance cluster centres:
# centres lie about 16 apart and a cluster's radius is about 45, so the
# clusters overlap heavily. Tuned once on 500-row segments: GRAPH
# recall falls as the spread grows and levels off near 0.96 from 4.0 on
# (0.99 at 0.9). The default-parameter PQ paths read recall 1.0 at every
# spread, because they re-rank the best 160 PQ candidates of each
# segment exactly, a third of a 500-row segment.
SPREAD = 4.0


class Mixture:
    """A fixed set of cluster centres; ``draw`` samples float32 rows."""

    def __init__(self, seed: int):
        self.seed = seed
        self.centres = np.random.default_rng([seed, 0]).normal(size=(CLUSTERS, DIM))

    def draw(self, stream: int, n: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, stream])
        label = rng.integers(0, len(self.centres), n)
        noise = rng.normal(size=(n, self.centres.shape[1]))
        return (self.centres[label] + SPREAD * noise).astype(np.float32)


def exact_topk(
    base: np.ndarray, gids: np.ndarray, queries: np.ndarray, k: int, chunk: int = 32
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-``k`` by L2 in float64, ties broken by smaller gid.

    Returns ``(gids, distances)``, each ``(len(queries), k)``; distances
    are Euclidean (not squared), as the index reports them.
    """
    b = base.astype(np.float64)
    gids = np.asarray(gids, dtype=np.int64)
    out_g = np.empty((len(queries), k), dtype=np.int64)
    out_d = np.empty((len(queries), k), dtype=np.float64)
    for lo in range(0, len(queries), chunk):
        q = queries[lo : lo + chunk].astype(np.float64)
        d2 = ((q[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
        for i, row in enumerate(d2):
            order = np.lexsort((gids, row))[:k]
            out_g[lo + i] = gids[order]
            out_d[lo + i] = np.sqrt(row[order])
    return out_g, out_d


def recall_at_k(results: dict[int, list[int]], truth: np.ndarray, query_ids) -> float:
    """Mean over queries of |returned ∩ true top-k| / k; ``truth`` row i
    belongs to ``query_ids[i]``."""
    k = truth.shape[1]
    hits = [
        len(set(results.get(int(qid), ())) & set(truth[i].tolist())) / k
        for i, qid in enumerate(query_ids)
    ]
    return float(np.mean(hits))
