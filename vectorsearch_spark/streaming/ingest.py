"""Structured Streaming ingest into the segmented vector index.

The reference has no streaming engine — its closest analog is the async
build/maintenance task pipeline (tasks/SegmentBuildWorker.java:39-55,
tasks/GlobalWorkerRunner.java:90-123): writers append to the ACTIVE
segment, rotation enqueues a build task, workers seal in the
background. The Spark-native re-expression is ``readStream`` →
``foreachBatch``: every micro-batch is one transactional ``add``
(dense gids, strict-cap rotation), and segments that rotate to PENDING
are optionally built+sealed inline — micro-batches ARE the task queue.

Exactly-once mechanism (the analog of the reference's idempotent task
claims, tasks/SegmentBuildWorker.java:49-53). ``foreachBatch`` alone is
at-least-once: Spark replays an epoch whose side effects ran but whose
checkpoint commit did not. Two pieces close that:

1. **Epoch guard, committed atomically with the rows.** The last
   applied (stream_id → epoch_id) rides the add's one catalog commit
   (``meta_extra``) — ONE atomic temp+rename of ``meta.json`` commits
   the rows' visibility, the gid counter and the epoch mark together. A
   replayed epoch ≤ the recorded one is skipped (``build()`` still
   runs: rebuild is an idempotent staged partition rewrite + seal).
2. **Recovery at writer start-up.** A crash before that rename leaves
   the epoch unrecorded and the catalog as it was, so the replay is a
   fresh batch — except that the dead attempt's parquet rows may be on
   disk. Their gids are at or above the committed ``next_gid``, so
   ``stream_add`` calls ``index.recover()`` once before the query
   starts, which scrubs exactly those rows (the same recovery a batch
   writer runs at restart).

The vectors append is visible only at Spark job commit and the catalog
write is atomic, so each crash point lands in one of the cases above.
Single concurrent writer per index, as documented in index/catalog.py.

Scale: each micro-batch append is the same partition-parallel job as
batch ingest; build work is bounded per batch (only segments filled by
that batch); the epoch mark adds a few bytes to the O(#segments)
catalog write ``add`` already makes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from vectorsearch_spark.index.catalog import VectorIndex

_APPLIED_KEY = "applied_epochs"  # meta.json: {stream_id: last_applied_epoch}


def stream_add(
    index: VectorIndex,
    stream_df: DataFrame,
    embedding_col: str = "embedding",
    payload_col: str | None = None,
    order_col: str | None = None,
    build_on_rotate: bool = True,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    on_batch: Callable[[int, int], None] | None = None,
    stream_id: str | None = None,
) -> StreamingQuery:
    """Continuously append a streaming DataFrame into the index with
    exactly-once row visibility (see module docstring for the guard and
    the start-up recovery).

    Each micro-batch runs the batch ``add`` (gid allocation + rotation),
    then — when ``build_on_rotate`` — builds/seals any segment the batch
    filled, mirroring the reference's enqueue-build-on-rotation
    (fdb/FdbVectorStore.java:512-539 → enqueueBuildTask at 723-727).

    ``stream_id`` names this stream's epoch ledger in meta.json; it must
    be stable across restarts (defaults to ``checkpoint_dir``, the thing
    that defines epoch numbering — without a checkpoint there is no
    replay semantics to guard).

    Returns the started StreamingQuery; callers own its lifecycle
    (``awaitTermination`` / ``stop``). ``trigger`` kwargs pass through,
    e.g. ``{"availableNow": True}`` for drain-and-stop or
    ``{"processingTime": "10 seconds"}``.
    """
    sid = stream_id or checkpoint_dir or "default"
    # writer start-up: scrub the rows of an add that died before its
    # catalog commit, before any epoch replays
    index.recover()

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id)
        # epoch guard: skip the add of a replay whose commit DID land;
        # the mark rides the add's own catalog commit
        applied = dict(index._meta().get(_APPLIED_KEY, {}))
        if int(applied.get(sid, -1)) < epoch_id:
            applied[sid] = epoch_id
            index.add(
                batch_df,
                embedding_col=embedding_col,
                payload_col=payload_col,
                order_col=order_col,
                meta_extra={_APPLIED_KEY: applied},
            )
        # idempotent: on a replay it finishes a build the crash
        # interrupted, and reports what it actually sealed
        n_built = len(index.build()) if build_on_rotate else 0
        if on_batch is not None:
            on_batch(epoch_id, n_built)

    writer = stream_df.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
