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
checkpoint commit did not. Three pieces close that:

1. **Epoch guard, committed atomically with the rows.** The last
   applied (stream_id → epoch_id) rides the add's final ``meta.json``
   write (``meta_extra``) — ONE atomic temp+rename commits rows'
   visibility and the epoch mark together. A replayed epoch ≤ the
   recorded one is skipped (``build()`` still runs: rebuild is an
   idempotent staged partition rewrite + seal).
2. **Write-ahead intent.** Before mutating anything, the epoch writes
   ``<root>/stream_intent.json`` = (stream_id, epoch_id, next_gid,
   registry snapshot). ``add``'s internal order is parquet-commit →
   registry → meta; a crash anywhere before the meta rename leaves the
   epoch unrecorded, so its replay is indistinguishable from a fresh
   batch — except the intent says otherwise.
3. **Orphan scrub on replay.** When the intent matches the incoming
   epoch and the guard shows it unapplied, the previous attempt died
   mid-write: restore the registry snapshot and delete vector rows with
   ``gid >= intent.next_gid`` (exactly the uncommitted attempt's rows —
   gids allocate from meta's counter, which never advanced). The scrub
   rewrites only the touched partitions (≤ one partial ACTIVE segment
   kept + whole orphan partitions removed), then the epoch re-runs
   cleanly. The rewrite is the staged partition swap of
   vectorsearch_spark.staging, so ``recover()`` repairs a crash inside
   it as for every other rewrite of the index tables.

Every state file write is atomic temp+rename; the vectors append is
visible only at Spark job commit — so each crash point lands in exactly
one of the cases above. Single concurrent writer per index, as
documented in index/catalog.py.

Scale: each micro-batch append is the same partition-parallel job as
batch ingest; build work is bounded per batch (only segments filled by
that batch); the intent adds one O(#segments) driver-side JSON write
per epoch — the registry rewrite in ``add`` is already that size.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectorsearch_spark.index.catalog import VECTORS_SCHEMA, VectorIndex
from vectorsearch_spark.staging import staged_partition_rewrite

_APPLIED_KEY = "applied_epochs"  # meta.json: {stream_id: last_applied_epoch}


def _intent_path(index: VectorIndex) -> str:
    return f"{index.path}/stream_intent.json"


def _read_intent(index: VectorIndex) -> dict | None:
    from vectorsearch_spark.fsio import get_state_fs

    fs = get_state_fs()
    if not fs.exists(_intent_path(index)):
        return None
    try:
        return json.loads(fs.read_text(_intent_path(index)))
    except ValueError:
        # a torn intent file means power loss DURING the intent write,
        # which precedes any data mutation — quarantine and treat as
        # no intent (nothing to roll back), the _load_marker discipline
        fs.replace_file(_intent_path(index), _intent_path(index) + ".corrupt")
        return None


def _write_intent(index: VectorIndex, stream_id: str, epoch_id: int) -> None:
    VectorIndex._atomic_write_json(
        _intent_path(index),
        {
            "stream_id": stream_id,
            "epoch_id": int(epoch_id),
            "next_gid": int(index.next_gid),
            "segments": index._segment_rows(),
        },
    )


def _scrub_orphans(index: VectorIndex, min_gid: int) -> int:
    """Remove vector rows with gid >= min_gid left by an uncommitted add
    attempt. Reads the parquet RAW (no registry filter — orphan segments
    are unregistered after the snapshot restore). Whole-orphan partitions
    are dropped; a partially-orphaned partition (the then-ACTIVE segment)
    is rewritten keeping its committed rows. Returns rows removed."""
    from vectorsearch_spark.fsio import get_state_fs

    spark = index.spark
    if not get_state_fs().isdir(index.vectors_path):
        return 0
    raw = spark.read.schema(VECTORS_SCHEMA).parquet(index.vectors_path)
    per_seg = (
        raw.groupBy("seg_id")
        .agg(
            F.sum((F.col("gid") >= min_gid).cast("long")).alias("orphans"),
            F.sum((F.col("gid") < min_gid).cast("long")).alias("keep"),
        )
        .filter(F.col("orphans") > 0)
        .collect()
    )
    removed = 0
    rewrite_segs = []
    for r in per_seg:
        removed += int(r["orphans"])
        part_dir = f"{index.vectors_path}/seg_id={int(r['seg_id'])}"
        if int(r["keep"]) == 0:
            get_state_fs().rmtree(part_dir)
        else:
            rewrite_segs.append(int(r["seg_id"]))
    if rewrite_segs:
        keep = raw.filter(F.col("seg_id").isin(rewrite_segs) & (F.col("gid") < min_gid))
        staged_partition_rewrite(spark, keep, index.vectors_path, "seg_id")
    return removed


def recover_interrupted_epoch(
    index: VectorIndex, stream_id: str, epoch_id: int | None = None
) -> int:
    """If a prior attempt at (stream_id, epoch) died between its first
    mutation and its atomic meta commit, roll the index back to the
    intent snapshot: restore the registry, scrub orphan gids. No-op when
    there is no matching unapplied intent. Returns rows scrubbed."""
    intent = _read_intent(index)
    if intent is None or intent.get("stream_id") != stream_id:
        return 0
    if epoch_id is not None and int(intent.get("epoch_id", -1)) != int(epoch_id):
        return 0
    applied = int(index._meta().get(_APPLIED_KEY, {}).get(stream_id, -1))
    if int(intent["epoch_id"]) <= applied:
        return 0  # intent's epoch committed; stale file, nothing to undo
    index._overwrite_segments(intent["segments"])
    return _scrub_orphans(index, int(intent["next_gid"]))


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
    exactly-once row visibility (see module docstring for the intent/
    guard/scrub protocol).

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

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id)
        # 3) roll back a half-written previous attempt at this epoch
        recover_interrupted_epoch(index, sid, epoch_id)
        # 1) epoch guard: skip replays whose commit DID land
        applied = dict(index._meta().get(_APPLIED_KEY, {}))
        if int(applied.get(sid, -1)) >= epoch_id:
            n_built = 0
            if build_on_rotate:
                # idempotent; finishes a build the crash interrupted —
                # report what it actually sealed, not a hardcoded 0
                n_built = len(index.build())
            if on_batch is not None:
                on_batch(epoch_id, n_built)
            return
        # 2) write-ahead intent, then add with the epoch mark riding the
        #    add's own atomic meta commit
        _write_intent(index, sid, epoch_id)
        applied[sid] = epoch_id
        index.add(
            batch_df,
            embedding_col=embedding_col,
            payload_col=payload_col,
            order_col=order_col,
            meta_extra={_APPLIED_KEY: applied},
        )
        n_built = 0
        if build_on_rotate:
            n_built = len(index.build())
        if on_batch is not None:
            on_batch(epoch_id, n_built)

    writer = stream_df.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
