"""Batch ingest: dense gid allocation + strict-cap segment rotation
(S6 in SURVEY §2.1).

Reference semantics: ``fdb/FdbVectorStore.java:185-245, 425-721`` —
gids allocated monotonically from a ``nextGid`` counter, rows appended
to the ACTIVE segment until ``count >= maxSegmentSize``, then the
segment rotates to PENDING and a new ACTIVE one is created; addAll
preserves input order across rotations. Dimension validation rejects
wrong-length embeddings (``fdb/FdbVectorStore.java:752-766``).

Spark re-expression: "rotation" is deterministic arithmetic over the
batch-relative row position ``p = gid - start``: the first
``cap - active_fill`` rows top up the ACTIVE segment, the rest fill
fresh segments allocated contiguously from ``max_seg_id + 1`` — the
SAME counter compaction destinations draw from, so ingest can never
append into a compacted segment's id (the reference allocates both
from one maxSegmentId; decoupling seg_id from ``gid // cap`` is what
makes that hold here). One append job writes all segments of a batch
at once, partitioned by seg_id. Dense gid assignment avoids a global
sort: stage 1 counts rows per input partition (O(partitions) driver
rows), stage 2 assigns ``gid = next_gid + partition_offset +
local_row_number`` with a per-partition window. That is the scalable
two-phase id-assignment pattern; nothing ever funnels through one
task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_spark.config import ACTIVE, PENDING
from vectorsearch_spark.index.catalog import VectorIndex


def with_dense_ids(
    df: DataFrame,
    start: int,
    order_col: str | None = None,
    invalid: "F.Column | None" = None,
    invalid_msg: str = "rows failed validation",
) -> tuple[DataFrame, int, DataFrame]:
    """Assign a dense ``gid`` column start..start+n-1 without a global
    single-task sort; returns (df_with_gid, row_count, persisted_handle)
    — callers unpersist the handle after materializing the result.

    With ``order_col``, gids follow that column's global order (the
    ``addAll`` insertion-order contract): rows are range-partitioned and
    sorted within partitions, so ordering is global yet every stage stays
    partition-parallel. Without it, gids follow the incoming
    partition/row order (fastest; order unspecified after shuffles).

    The per-partition counting pass doubles as the validation pass:
    ``invalid`` rows are counted in the same single aggregation (one job
    total) and raise ValueError — F3 dimension validation,
    fdb/FdbVectorStore.java:752-766.
    """
    if order_col is not None:
        df = df.repartitionByRange(order_col).sortWithinPartitions(order_col)
    tagged = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    tagged = tagged.persist()  # both passes must see identical partitioning
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if invalid is not None:
        aggs.append(F.sum(invalid.cast("int")).alias("bad"))
    stats = tagged.groupBy("_pid").agg(*aggs).collect()
    if invalid is not None:
        bad = sum(r["bad"] or 0 for r in stats)
        if bad:
            tagged.unpersist()
            raise ValueError(
                f"{bad} {invalid_msg} (fdb/FdbVectorStore.java:752-766 semantics)"
            )
    counts = {r["_pid"]: r["cnt"] for r in stats}
    offsets, acc = {}, int(start)
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    offset_df = F.broadcast(
        spark.createDataFrame([(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long")
    )
    # monotonically_increasing_id is documented as (partition_id << 33) +
    # dense row position within the partition, so the local row number is
    # its low 33 bits — gid assignment needs NO window and NO extra
    # shuffle, just the broadcast offset join + arithmetic.
    out = (
        tagged.join(offset_df, "_pid")
        .withColumn(
            "gid", F.col("_offset") + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
        )
        .drop("_pid", "_mid", "_offset")
    )
    return out, acc - int(start), tagged


def add_vectors(
    index: VectorIndex,
    df: DataFrame,
    embedding_col: str = "embedding",
    payload_col: str | None = None,
    order_col: str | None = None,
    meta_extra: dict | None = None,
) -> int:
    """Append a batch; returns the first assigned gid (batch gids are
    contiguous from it, in input order — addAll order preservation,
    fdb/FdbVectorStoreIntegrationTest.java:58-104)."""
    cfg = index.config
    src = df.withColumn(embedding_col, F.col(embedding_col).cast("array<float>"))
    invalid = F.col(embedding_col).isNull() | (F.size(embedding_col) != cfg.dimension)

    start = index.next_gid
    cap = cfg.max_segment_size
    payload = F.col(payload_col) if payload_col else F.lit(None).cast("binary")
    with_ids, n, persisted = with_dense_ids(
        src,
        start,
        order_col,
        invalid=invalid,
        invalid_msg=f"embeddings do not have dimension {cfg.dimension}",
    )
    if n == 0:
        persisted.unpersist()
        if meta_extra:  # an empty epoch still commits its bookkeeping
            index.update_segment_states({}, **meta_extra)
        return start

    # -- segment placement (decoupled from gid arithmetic) -------------
    # p = batch-relative row position; the first `boundary` rows top up
    # the ACTIVE segment at its fill high-water mark, the rest go to
    # fresh segments first_new, first_new+1, ... from the max_seg_id
    # counter (shared with compaction destinations — ids never collide).
    active = index.active_seg_id
    fill = index.active_fill if active is not None else 0
    boundary = (cap - fill) if active is not None else 0
    into_active = min(n, boundary)
    rem = n - into_active
    n_new = (rem + cap - 1) // cap
    first_new = index.max_seg_id + 1

    p = F.col("gid") - F.lit(int(start))
    q = p - F.lit(int(boundary))
    seg_expr = (
        F.when(p < boundary, F.lit(active if active is not None else -1))
        .otherwise(F.lit(first_new) + (q / cap).cast("long"))
        .cast("int")
    )
    vec_expr = (
        F.when(p < boundary, F.lit(int(fill)) + p).otherwise(q % cap).cast("int")
    )
    out = with_ids.select(
        F.col("gid"),
        seg_expr.alias("seg_id"),
        vec_expr.alias("vec_id"),
        F.col(embedding_col).alias("embedding"),
        F.lit(False).alias("deleted"),
        payload.alias("payload"),
    )
    # cluster rows by segment before the partitioned write: one file per
    # seg_id partition instead of (#tasks × #segments) small files —
    # segments are capped by max_segment_size, so files stay bounded
    out.repartition("seg_id").write.mode("append").partitionBy("seg_id").parquet(
        index.vectors_path
    )
    persisted.unpersist()

    # registry update: full segments → PENDING (rotated), tail → ACTIVE
    end = start + n  # exclusive
    touched: list[tuple[int, int, int]] = []  # (seg_id, rows_added, end_fill)
    if into_active:
        touched.append((active, into_active, fill + into_active))
    for i in range(n_new):
        rows_i = min(cap, rem - i * cap)
        touched.append((first_new + i, rows_i, rows_i))
    updates: dict[int, dict] = {}
    counts = {r["seg_id"]: r["count"] for r in index._segment_rows()}
    new_active: int | None = None
    new_fill = 0
    for sid, added, end_fill in touched:
        if end_fill < cap:  # only ever the last touched segment
            state = ACTIVE
            new_active, new_fill = sid, end_fill
        else:
            state = PENDING
        updates[sid] = {"state": state, "count": counts.get(sid, 0) + added}
    # the commit point: registry, counters and meta_extra in one rename
    index.update_segment_states(
        updates,
        next_gid=end,
        max_seg_id=first_new + n_new - 1,
        has_payload=index.has_payload or payload_col is not None,
        active_seg_id=new_active,
        active_fill=new_fill,
        **(meta_extra or {}),
    )
    return start
