"""Index configuration — mirrors the reference's ``IndexMeta`` contract.

Reference: ``src/main/proto/vectorsearch.proto:31-67`` (name, dimension,
metric {L2, COSINE}, max_segment_size, pq_m, pq_k, graph_degree,
oversample, graph_build_breadth, graph_alpha) and the open-time
validation in ``fdb/FdbVectorStore.java:124-166`` (config mismatch on
reopen raises).
"""

from __future__ import annotations

import dataclasses
import enum
import json
from dataclasses import dataclass


class Metric(str, enum.Enum):
    L2 = "l2"
    COSINE = "cosine"


@dataclass(frozen=True)
class IndexConfig:
    name: str
    dimension: int
    metric: Metric = Metric.L2
    max_segment_size: int = 100_000
    pq_m: int = 8            # subspaces
    pq_k: int = 256          # centroids per subspace (codes fit one byte)
    pq_iters: int = 5        # Lloyd's iterations (SegmentBuildService.java:180)
    graph_degree: int = 32
    graph_build_breadth: int = 64   # lBuild
    graph_alpha: float = 1.2        # <=1.0 -> brute-force kNN graph (SegmentBuildService.java:207-209)
    oversample: int = 4
    seed: int = 42
    # OPQ (Ge et al. CVPR 2013) — EXTENSION, not in the reference: learn
    # a per-segment orthogonal rotation before the subspace split so PQ's
    # independence assumption fits the data (lower quantization error at
    # the same code budget). Opt-in; rotation is stored with the codebook
    # and applied to queries at LUT build, exact re-rank is unaffected.
    use_opq: bool = False
    opq_iters: int = 4

    def __post_init__(self) -> None:
        if self.dimension <= 0:
            raise ValueError(f"dimension must be positive, got {self.dimension}")
        if self.dimension % self.pq_m != 0:
            raise ValueError(f"pq_m={self.pq_m} must divide dimension={self.dimension}")
        if not 1 <= self.pq_k <= 256:
            raise ValueError(f"pq_k must be in [1,256] (one byte per code), got {self.pq_k}")
        if self.max_segment_size <= 0:
            raise ValueError("max_segment_size must be positive")
        if isinstance(self.metric, str) and not isinstance(self.metric, Metric):
            object.__setattr__(self, "metric", Metric(self.metric))

    @property
    def sub_dim(self) -> int:
        return self.dimension // self.pq_m

    def to_json(self) -> str:
        d = dataclasses.asdict(self)
        d["metric"] = self.metric.value
        return json.dumps(d, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "IndexConfig":
        d = json.loads(s)
        d.pop("normalize_on_read", None)  # retired key: it lives on SearchParams
        d["metric"] = Metric(d["metric"])
        return cls(**d)

    def validate_same(self, other: "IndexConfig") -> None:
        """Reopen-time validation (fdb/FdbVectorStore.java:124-166)."""
        if self != other:
            raise ValueError(
                f"index config mismatch: stored={self.to_json()} requested={other.to_json()}"
            )


# Segment lifecycle states (vectorsearch.proto:74-101, SURVEY §1.3).
ACTIVE = "ACTIVE"        # accepting writes; searched brute-force
PENDING = "PENDING"      # rotated away at cap; brute-force; awaiting build
SEALED = "SEALED"        # PQ + graph built; searched via approx + re-rank
COMPACTING = "COMPACTING"  # compaction source; searched like SEALED
WRITING = "WRITING"      # compaction destination; invisible to search
SEARCHABLE_BRUTE = (ACTIVE, PENDING)
SEARCHABLE_SEALED = (SEALED, COMPACTING)
