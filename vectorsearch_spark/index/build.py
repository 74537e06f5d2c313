"""Segment build job: PQ codebook + codes + neighbor graph + seal
(S7/A1/C10/G1-G3/M6 in SURVEY §2).

Reference semantics: ``tasks/SegmentBuildService.java:72-141`` — only
PENDING/WRITING segments are built; scan the segment's vectors, train
PQ (iters=5, seeded), encode every row, build the neighbor graph
(brute kNN when alpha<=1.0 else Vamana), persist artifacts, then seal
(PENDING/WRITING → SEALED) with a zero-codebook fallback for empty
segments (``SegmentBuildService.java:346-392``).

Spark shape: ONE ``applyInPandas`` task per segment computes all three
artifacts (train → encode → graph) in a single pass — one shuffle of
the segment vectors total, the same one-segment-per-worker contract as
the reference (SegmentBuildService builds a whole segment in one
worker). The tagged-union result lands in ONE staged write of the
unified artifacts table (partitioned by (seg_id, kind) — see
VectorIndex.artifacts_path) followed by the rename swap of
vectorsearch_spark.staging, so a whole build is a single Spark job;
rebuilds replace exactly the built segments' partitions, staying
idempotent, and ``recover()`` rolls a crashed swap back or forward as
for every other rewrite of the index tables. Rows are sorted by vec_id
inside the task, making codebook training deterministic under shuffle
nondeterminism. All segments build in parallel across the cluster in a
single job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vectorsearch_spark.config import PENDING, SEALED, WRITING, Metric
from vectorsearch_spark.functions.distances import normalize
from vectorsearch_spark.index.catalog import VectorIndex
from vectorsearch_spark.metrics import get_metrics
from vectorsearch_spark.operators.graph import build_graph
from vectorsearch_spark.operators.pq import encode, opq_train, train_codebook
from vectorsearch_spark.staging import staged_partition_rewrite

# the unified artifacts table: tagged union of the three artifact kinds
# (kind ∈ {cb, code, adj}), partitioned by (seg_id, kind)
ARTIFACTS_SCHEMA = (
    "seg_id int, kind string, vec_id int, codes binary, "
    "neighbor_ids array<int>, m int, k int, sub_dim int, centroids array<double>, "
    "rotation array<double>"  # OPQ rotation (d*d flat), NULL when use_opq off
)
_STAGE_SCHEMA = ARTIFACTS_SCHEMA


def _build_segment_fn(cfg):
    """Train + encode + graph for ONE segment, emitted as tagged rows."""
    m, kk, iters, seed = cfg.pq_m, cfg.pq_k, cfg.pq_iters, cfg.seed
    use_opq, opq_iters = cfg.use_opq, cfg.opq_iters
    degree, l_build, alpha = cfg.graph_degree, cfg.graph_build_breadth, cfg.graph_alpha

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        seg_id = int(pdf["seg_id"].iloc[0])
        # sort: graph neighbors are positional within the sorted group
        # (dense 0..n-1 normally, but vacuum can leave holes), and a
        # fixed row order makes PQ training deterministic
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        x = np.stack(pdf["embedding"].to_numpy())
        vec_ids = pdf["vec_id"].to_numpy(dtype=np.int32)
        n = len(pdf)

        if use_opq and n >= 2:
            # per-segment OPQ: rotate so the subspace split matches the
            # segment's correlation structure; the graph stays on raw x
            # (an orthogonal rotation preserves every pairwise distance)
            rot, cb = opq_train(x, m, kk, iters=opq_iters, pq_iters=iters, seed=seed)
            codes = encode(x @ rot, cb)
        else:
            rot = None
            cb = train_codebook(x, m, kk, iters, seed)
            codes = encode(x, cb)
        adj = build_graph(x, degree, l_build, alpha, seed)

        cb_row = pd.DataFrame(
            {
                "seg_id": [seg_id], "kind": ["cb"], "vec_id": [None],
                "codes": [None], "neighbor_ids": [None],
                "m": [m], "k": [kk], "sub_dim": [cb.shape[2]],
                "centroids": [cb.ravel().tolist()],
                "rotation": [rot.ravel().tolist() if rot is not None else None],
            }
        )
        code_rows = pd.DataFrame(
            {
                "seg_id": np.full(n, seg_id, dtype=np.int32), "kind": "code",
                "vec_id": vec_ids, "codes": [c.tobytes() for c in codes],
                "neighbor_ids": None, "m": None, "k": None, "sub_dim": None,
                "centroids": None, "rotation": None,
            }
        )
        adj_rows = pd.DataFrame(
            {
                "seg_id": np.full(n, seg_id, dtype=np.int32), "kind": "adj",
                "vec_id": vec_ids, "codes": None,
                "neighbor_ids": [vec_ids[a].tolist() for a in adj],
                "m": None, "k": None, "sub_dim": None, "centroids": None,
                "rotation": None,
            }
        )
        return pd.concat([cb_row, code_rows, adj_rows], ignore_index=True)

    return run


def build_segments(
    index: VectorIndex, seg_ids: list[int] | None = None, seal: bool = True
) -> list[int]:
    """Build + seal every buildable (PENDING/WRITING) segment; returns
    the seg_ids built. Explicit seg_ids must still be buildable
    (SegmentBuildService.java:88-99 ignores other states).

    ``seal=False`` leaves the segments in their current state after
    writing artifacts — compaction uses this so its destination stays
    WRITING (invisible) until the FINAL atomic registry swap flips it
    to SEALED together with dropping the sources (the reference seals
    inside that same transaction, MaintenanceService.java:391-414; a
    premature seal here opened a crash window where dest and sources
    were simultaneously searchable with duplicate gids — caught by the
    compaction crash-injection test)."""
    cfg = index.config
    buildable = set(index.registered_seg_ids((PENDING, WRITING)))
    targets = sorted(buildable if seg_ids is None else buildable & set(seg_ids))
    if not targets:
        return []

    emb = F.col("embedding")
    if cfg.metric == Metric.COSINE:
        # Cosine metric: train/encode/graph on UNIT vectors, so the
        # L2²-LUT candidate ranking is exactly monotone in cosine
        # distance (‖v̂−q̂‖² = 2−2·cos) — the build-side analog of the
        # reference's normalize-on-read (fdb/FdbVectorIndex.java:
        # 1006-1013). Raw embeddings in the vectors table are untouched;
        # the exact re-rank still scores the true metric on them.
        emb = normalize(emb).cast("array<float>")
    vec = (
        index.vectors(states=(PENDING, WRITING))
        .filter(F.col("seg_id").isin(targets) & ~F.col("deleted"))
        .select("seg_id", "vec_id", emb.alias("embedding"))
    )

    # registry counters are authoritative: segments with live rows are
    # exactly those with count > 0 — no probe job needed to know whether
    # the build pass will emit artifacts. Exception: WRITING compaction
    # destinations carry count=0 until the final registry swap (their
    # rows are already on disk), so WRITING always builds.
    rows_by_id = {r["seg_id"]: r for r in index._segment_rows()}
    if any(
        rows_by_id[sid]["count"] > 0 or rows_by_id[sid]["state"] == WRITING
        for sid in targets
    ):
        # ONE job: per-segment train+encode+graph (single shuffle of
        # the vectors) staged, then swapped into the unified artifacts
        # table — idempotent rebuild replaces exactly the built
        # segments' partitions (every group emits all three kinds)
        # (tasks/SegmentBuildServiceIdempotentTest.java behavior).
        # Explicit-count repartition by seg_id: the vectors shuffle is
        # tiny in BYTES (KBs) but heavy in CPU (Vamana per segment), so
        # AQE's size-based coalescing folds every segment into ONE
        # partition and the whole build runs serially in one Python
        # worker (measured 2.25 s → 0.73 s warm at sf0.1, 10 segments).
        # REPARTITION_BY_NUM is exempt from AQE coalescing and
        # satisfies applyInPandas's ClusteredDistribution, so exactly
        # one exchange remains; 2× segments keeps hash-collision
        # multi-segment tasks rare while staying proportional at scale.
        staged = (
            vec.repartition(2 * len(targets), "seg_id")
            .groupBy("seg_id")
            .applyInPandas(_build_segment_fn(cfg), _STAGE_SCHEMA)
        )
        with get_metrics(index.spark).phase("index.build.write"):
            staged_partition_rewrite(
                index.spark, staged, index.artifacts_path, ["seg_id", "kind"]
            )

    # seal — empty segments seal too (zero-codebook fallback,
    # SegmentBuildService.java:346-392: guarantees state transition)
    if seal:
        with get_metrics(index.spark).phase("index.build.seal"):
            index.update_segment_states({sid: {"state": SEALED} for sid in targets})
    return targets
