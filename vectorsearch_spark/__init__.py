"""vectorsearch_spark — a PySpark-native batch vector-search / analytics engine.

Re-expresses the capabilities of the reference segmented ANN index
(panghy/vectorsearch: DiskANN-style graphs + Product Quantization over
FoundationDB) as idiomatic Spark DataFrame jobs:

- ``functions``  : distance / scoring columns (one NumPy exact-distance kernel
                   behind scalar Arrow UDFs and the ``vs_*`` SQL functions)
- ``operators``  : KNN joins, PQ train/encode/scan, graph build, top-k,
                   dedup / text-analysis / similarity pipeline operators
- ``index``      : segmented index lifecycle — ingest (gid/segment
                   assignment), build (PQ + graph + seal), search dispatch,
                   maintenance (delete / vacuum / compaction)
- ``streaming``  : Structured Streaming ingest into the segmented layout

Design stance (100 TB first): tables not KV, batch jobs not task queues,
built-in expressions or Arrow-batched kernels, not row UDFs, and
per-segment bounded work so every job parallelizes across
segments/partitions with O(segments) driver state.
"""

from vectorsearch_spark.config import IndexConfig, Metric
from vectorsearch_spark.session import get_spark

__all__ = ["IndexConfig", "Metric", "get_spark"]
__version__ = "0.1.0"
