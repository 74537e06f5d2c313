"""Maintenance operators: tombstone delete, vacuum, compaction planner,
compaction rewrite, and physical GC (M1-M6 / A4-A6 / F4 in SURVEY §2).

Reference semantics:
- delete: set ``deleted=true``, ``count--``, ``deleted_count++``
  (fdb/FdbVectorStore.java:254-423);
- vacuum: physically remove deleted rows + their codes/adjacency,
  reset deleted_count, stamp last_vacuum_at; gated on
  ``deleted/(count+deleted) >= minRatio`` and a cooldown
  (tasks/MaintenanceService.java:88-217, fdb/FdbVectorIndex.java:552-608);
- compaction planner: composite (age, size, fragmentation) score over
  SEALED segments, min-max normalized, greedy pick under an 80%-of-cap
  budget (tasks/MaintenanceService.java:430-529);
- compaction: copy live rows of the sources into a fresh WRITING
  segment (invisible to search), rebuild artifacts, then atomically
  swap the registry — gids are stable across the move
  (tasks/MaintenanceService.java:248-417, api/GidCompactionStabilityTest.java).

Spark shape: every rewrite is a *partition* rewrite through the staged
swap of vectorsearch_spark.staging (only touched seg_id partitions are
replaced); the "atomic registry swap" is one atomic replace of the
catalog file (index/catalog.py), whose registry is the single source of
truth for visibility. Planner arithmetic
is a pure DataFrame aggregation. Nothing driver-side ever holds row
data — only registry rows and seg_id lists.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_spark.config import COMPACTING, SEALED, WRITING
from vectorsearch_spark.index.catalog import VECTORS_SCHEMA, VectorIndex
from vectorsearch_spark.metrics import get_metrics
from vectorsearch_spark.staging import (
    hadoop_delete as _hadoop_delete,
    hadoop_exists,
    hadoop_list_dirs,
    recover_partial_swaps,
    staged_partition_rewrite,
)


# ---------------------------------------------------------------------------
# M1: tombstone delete
# ---------------------------------------------------------------------------

def delete_gids(index: VectorIndex, gids: list[int]) -> int:
    """Mark gids deleted; returns how many rows were newly tombstoned."""
    if not gids:
        return 0
    spark = index.spark
    gid_df = F.broadcast(
        spark.createDataFrame([(int(g),) for g in gids], "gid long")
    )
    # which registered segments hold these gids (gid→seg lookup, J1)
    hits = (
        index.vectors()
        .join(gid_df, "gid", "inner")
        .filter(~F.col("deleted"))
        .groupBy("seg_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    if not hits:
        return 0
    seg_ids = [r["seg_id"] for r in hits]
    newly = {r["seg_id"]: r["n"] for r in hits}

    part = index.spark.read.schema(VECTORS_SCHEMA).parquet(index.vectors_path).filter(
        F.col("seg_id").isin(seg_ids)
    )
    updated = part.join(gid_df.withColumn("_hit", F.lit(True)), "gid", "left").withColumn(
        "deleted", F.col("deleted") | F.coalesce(F.col("_hit"), F.lit(False))
    ).drop("_hit")
    staged_partition_rewrite(index.spark, updated, index.vectors_path, "seg_id")

    rows = index._segment_rows()
    updates = {}
    for r in rows:
        if r["seg_id"] in newly:
            n = newly[r["seg_id"]]
            updates[r["seg_id"]] = {
                "count": r["count"] - n,
                "deleted_count": r["deleted_count"] + n,
            }
    index.update_segment_states(updates)
    return int(sum(newly.values()))


# ---------------------------------------------------------------------------
# F4/M3: vacuum gating
# ---------------------------------------------------------------------------

def _below_vacuum_ratio(seg: dict, min_deleted_ratio: float) -> bool:
    """deleted/(count+deleted) under the gate, or an empty segment."""
    total = seg["count"] + seg["deleted_count"]
    return total == 0 or seg["deleted_count"] / total < min_deleted_ratio


def vacuum_due(
    index: VectorIndex,
    min_deleted_ratio: float = 0.25,
    cooldown_ms: int = 0,
    now_ms: int | None = None,
) -> list[int]:
    """Segments whose deleted ratio crosses the threshold and whose
    cooldown has elapsed (fdb/FdbVectorIndex.java:571-608)."""
    now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    out = []
    for r in index._segment_rows():
        if _below_vacuum_ratio(r, min_deleted_ratio):
            continue
        last = r["last_vacuum_at_ms"]
        if last is not None and now_ms - last < cooldown_ms:
            continue
        out.append(r["seg_id"])
    return sorted(out)


# ---------------------------------------------------------------------------
# M2: vacuum — physical removal (partition rewrite)
# ---------------------------------------------------------------------------

def vacuum_segment(
    index: VectorIndex,
    seg_id: int,
    force: bool = False,
    min_deleted_ratio: float = 0.25,
) -> bool:
    """Physically drop deleted rows (vectors + codes + adjacency) of one
    segment; re-checks the ratio gate unless forced
    (tasks/MaintenanceService.java:88-217)."""
    rows = {r["seg_id"]: r for r in index._segment_rows()}
    seg = rows.get(seg_id)
    if seg is None:
        return False
    if not force and _below_vacuum_ratio(seg, min_deleted_ratio):
        return False
    if seg["deleted_count"] > 0:
        spark = index.spark
        part = spark.read.schema(VECTORS_SCHEMA).parquet(index.vectors_path).filter(
            F.col("seg_id") == seg_id
        )
        kept = part.filter(~F.col("deleted"))
        # registry counters are authoritative (every delete updates them
        # in the same operation) — count==0 decides the fully-deleted
        # branch without an isEmpty() probe job
        if seg["count"] == 0:
            # fully-deleted segment: a partitioned write emits
            # NOTHING for an empty DataFrame (no partitions present in
            # the written data), leaving the tombstoned files on disk
            # forever — drop the partition directories directly instead
            # (one artifacts dir covers codebook+codes+adjacency)
            for path in (index.vectors_path, index.artifacts_path):
                _hadoop_delete(spark, f"{path}/seg_id={seg_id}")
            index.update_segment_states(
                {seg_id: {"deleted_count": 0, "last_vacuum_at_ms": int(time.time() * 1000)}}
            )
            return True
        with get_metrics(spark).phase("index.vacuum.vectors_rewrite"):
            staged_partition_rewrite(spark, kept, index.vectors_path, "seg_id")
        # drop orphaned build artifacts for removed vec_ids — ONE
        # rewrite of the unified artifacts table (codebook rows carry
        # no vec_id and survive unconditionally)
        kept_ids = F.broadcast(
            spark.read.schema(VECTORS_SCHEMA)
            .parquet(index.vectors_path)
            .filter(F.col("seg_id") == seg_id)
            .select("seg_id", "vec_id")
        )
        if hadoop_exists(spark, f"{index.artifacts_path}/seg_id={seg_id}"):
            art = index._artifacts().filter(F.col("seg_id") == seg_id)
            pruned = art.filter(F.col("kind") == "cb").unionByName(
                art.filter(F.col("kind") != "cb").join(
                    kept_ids, ["seg_id", "vec_id"], "left_semi"
                )
            )
            with get_metrics(spark).phase("index.vacuum.artifacts_rewrite"):
                staged_partition_rewrite(
                    spark, pruned, index.artifacts_path, ["seg_id", "kind"]
                )
    index.update_segment_states(
        {seg_id: {"deleted_count": 0, "last_vacuum_at_ms": int(time.time() * 1000)}}
    )
    return True


# ---------------------------------------------------------------------------
# A4/M5: compaction planner
# ---------------------------------------------------------------------------

# Planner constants (tasks/MaintenanceService.java:430-529): the score
# weights of age, size and fragmentation, the share of the segment cap
# one merge may fill, and the in-flight compaction limit
# (config/VectorIndexConfig.java:253-256).
AGE_WEIGHT = 0.2
SIZE_WEIGHT = 0.5
FRAG_WEIGHT = 0.3
BUDGET_FRACTION = 0.8
MAX_CONCURRENT_COMPACTIONS = 2


def score_segments(segments: DataFrame) -> DataFrame:
    """Composite compaction score per segment row — min-max-normalized
    age (older better), size (smaller better), fragmentation (more
    deleted better), the shape of tasks/MaintenanceService.java:430-529.

    Input needs (seg_id, count, deleted_count, created_at_ms); output
    adds a ``score`` column. Pure DataFrame aggregation — one tiny
    global agg + a projection, no per-row driver work.
    """
    stats = segments.agg(
        F.min("created_at_ms").alias("min_age"),
        F.max("created_at_ms").alias("max_age"),
        F.min("count").alias("min_n"),
        F.max("count").alias("max_n"),
    ).collect()[0]
    if stats["min_age"] is None:
        return segments.withColumn("score", F.lit(0.0)).limit(0)
    age_span = max(stats["max_age"] - stats["min_age"], 1)
    n_span = max(stats["max_n"] - stats["min_n"], 1)
    return segments.withColumn(
        "score",
        AGE_WEIGHT * (F.lit(stats["max_age"]) - F.col("created_at_ms")) / F.lit(age_span)
        + SIZE_WEIGHT * (F.lit(stats["max_n"]) - F.col("count")) / F.lit(n_span)
        + FRAG_WEIGHT
        * (
            F.col("deleted_count")
            / F.greatest(F.col("count") + F.col("deleted_count"), F.lit(1))
        ),
    )


def find_compaction_candidates(
    index: VectorIndex, max_batch: int | None = None
) -> list[int]:
    """Greedy pick of SEALED segments to merge: min-max-normalized
    composite score (same formula as ``score_segments``), best-first
    while total live rows fit the budget (``BUDGET_FRACTION`` of the
    segment cap), require ≥2, throttle by in-flight compactions
    (tasks/MaintenanceService.java:430-557).

    Computed DRIVER-SIDE over the registry rows: the planner input is
    O(#segments) metadata the driver already holds (same contract as
    ``vacuum_due``); the previous DataFrame formulation spent ~1.5 s of
    job-scheduling floor on three tiny jobs per planning call. The
    DataFrame scoring op stays as ``score_segments`` (it is the
    oracle-checked ``compaction_plan_scores`` surface)."""
    rows = index._segment_rows()
    if sum(1 for r in rows if r["state"] == COMPACTING) >= MAX_CONCURRENT_COMPACTIONS:
        return []
    sealed = [
        r
        for r in rows
        if r["state"] == SEALED and r["count"] < index.config.max_segment_size
    ]
    if not sealed:
        return []
    min_age = min(r["created_at_ms"] for r in sealed)
    max_age = max(r["created_at_ms"] for r in sealed)
    max_n = max(r["count"] for r in sealed)
    min_n = min(r["count"] for r in sealed)
    age_span = max(max_age - min_age, 1)
    n_span = max(max_n - min_n, 1)
    scored = [
        (
            AGE_WEIGHT * (max_age - r["created_at_ms"]) / age_span
            + SIZE_WEIGHT * (max_n - r["count"]) / n_span
            + FRAG_WEIGHT
            * (r["deleted_count"] / max(r["count"] + r["deleted_count"], 1)),
            r,
        )
        for r in sealed
    ]
    scored.sort(key=lambda sr: (-sr[0], sr[1]["seg_id"]))
    budget = int(index.config.max_segment_size * BUDGET_FRACTION)
    picked, cum = [], 0
    for _, r in scored:
        cum += r["count"]
        if cum > budget:
            break
        picked.append(r["seg_id"])
    out = sorted(picked)
    if max_batch:
        out = out[:max_batch]
    return out if len(out) >= 2 else []


# ---------------------------------------------------------------------------
# M4: compaction rewrite
# ---------------------------------------------------------------------------

def compact_segments(index: VectorIndex, seg_ids: list[int]) -> int:
    """Merge the live rows of ``seg_ids`` into one fresh segment.

    Steps (tasks/MaintenanceService.java:248-417): one catalog commit
    reserves the move — sources SEALED → COMPACTING (still searchable),
    a fresh dest seg_id registered WRITING (invisible) and the
    max_seg_id counter advanced; copy live rows with new dense
    (seg_id, vec_id) but STABLE gids; rebuild artifacts; swap: dest →
    SEALED, sources dropped from the registry in the same commit.
    Returns the new seg_id.
    """
    states = {r["seg_id"]: r["state"] for r in index._segment_rows()}
    for s in seg_ids:
        if states.get(s) != SEALED:
            raise ValueError(f"segment {s} is not SEALED (state={states.get(s)})")
    dest = index.max_seg_id + 1
    reserve = {s: {"state": COMPACTING} for s in seg_ids}
    reserve[dest] = {"state": WRITING}
    index.update_segment_states(reserve, max_seg_id=dest)

    live = (
        index.spark.read.schema(VECTORS_SCHEMA)
        .parquet(index.vectors_path)
        .filter(F.col("seg_id").isin(list(seg_ids)) & ~F.col("deleted"))
    )
    # dest is one bounded segment (planner budget ≤ 0.8·cap), so a
    # single-partition dense renumber is safe here — it is NOT a global
    # pattern, it is per-compaction and capped like the reference's
    # one-segment copy loop.
    w = Window.orderBy("gid")
    moved = live.select(
        "gid",
        F.lit(dest).cast("int").alias("seg_id"),
        (F.row_number().over(w) - 1).cast("int").alias("vec_id"),
        "embedding",
        "deleted",
        "payload",
    )
    # the write IS an action: harvest the row count from an Observation
    # instead of re-executing the windowed plan with a count() job
    from pyspark.sql import Observation

    obs = Observation()
    with get_metrics(index.spark).phase("index.compact.copy"):
        moved.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).partitionBy("seg_id").parquet(index.vectors_path)
        n = int(obs.get["n"])

    # WRITING segments are buildable (SegmentBuildService.java:88-99);
    # seal=False keeps dest WRITING (invisible) until the atomic swap
    # below — sealing here would open a window where dest AND sources
    # are simultaneously searchable with duplicate gids
    with get_metrics(index.spark).phase("index.compact.rebuild"):
        index.build([dest], seal=False)

    swap: dict[int, dict | None] = {s: None for s in seg_ids}
    swap[dest] = {"state": SEALED, "count": n, "deleted_count": 0}
    with get_metrics(index.spark).phase("index.compact.swap"):
        index.update_segment_states(swap)
    return dest


# ---------------------------------------------------------------------------
# Crash recovery (single-writer restart)
# ---------------------------------------------------------------------------

def recover(index: VectorIndex) -> dict:
    """Restore a consistent state after a writer crash — the batch
    analog of the reference's task re-claim (a crashed worker's lease
    expires and the idempotent task re-runs,
    tasks/SegmentBuildWorker.java:49-53). Call on writer startup,
    BEFORE issuing new maintenance ops; it must never run concurrently
    with a live writer (single-writer contract,
    vectorsearch_spark/staging.py).

    Four passes:
    1. partition-swap recovery on vectors/artifacts (roll back or
       roll forward interrupted rename swaps, scrub staging dirs);
    2. registry rollback: WRITING segments are un-registered and their
       dirs deleted (a WRITING segment at restart can only be an
       interrupted compaction destination or build — both rebuildable
       from their still-registered sources); COMPACTING segments return
       to SEALED (their data was never mutated — compaction copies);
    3. physical GC of now-unregistered partitions;
    4. one groupBy(seg_id) aggregate over the raw vectors table counts
       live, dead and uncommitted rows per partition:
       - uncommitted rows (gid ≥ the committed next_gid) are an add's
         leftovers from before its catalog commit — a partition of
         nothing else is deleted (the next add reallocates its seg_id),
         a partly uncommitted one (the then-ACTIVE segment) is
         rewritten keeping its committed rows;
       - the live/dead counts re-derive (count, deleted_count) of every
         registered segment from physical truth — a crash between a
         partition swap and its registry update leaves counters stale,
         and the normal fast paths deliberately trust counters instead
         of re-counting (a rerun of the crashed delete would see its
         tombstones as already-applied and never repair the drift;
         caught by the delete crash test).
       This scan job is fine here: recovery is the rare path.
    """
    spark = index.spark
    actions: dict = {"swaps": [], "writing_dropped": [], "compacting_reset": []}
    for path in (index.vectors_path, index.artifacts_path):
        actions["swaps"] += recover_partial_swaps(spark, path)
    # the swap recovery rewrites the tables without a registry write:
    # drop the cached searchable side here, not only at the choke point
    index.drop_searchable_side()
    updates: dict[int, dict | None] = {}
    for r in index._segment_rows():
        if r["state"] == WRITING:
            updates[r["seg_id"]] = None
            actions["writing_dropped"].append(r["seg_id"])
        elif r["state"] == COMPACTING:
            updates[r["seg_id"]] = {"state": SEALED}
            actions["compacting_reset"].append(r["seg_id"])
    if updates:
        index.update_segment_states(updates)
    if actions["writing_dropped"]:
        actions["gc"] = gc(index)
    truth: dict[int, tuple[int, int]] = {}
    scrubbed, rewrite = 0, []
    if hadoop_exists(spark, index.vectors_path):
        raw = spark.read.schema(VECTORS_SCHEMA).parquet(index.vectors_path)
        committed = F.col("gid") < index.next_gid
        for r in raw.groupBy("seg_id").agg(
            F.count(F.when(committed & ~F.col("deleted"), 1)).alias("live"),
            F.count(F.when(committed & F.col("deleted"), 1)).alias("dead"),
            F.count(F.when(~committed, 1)).alias("orphans"),
        ).collect():
            sid = r["seg_id"]
            truth[sid] = (r["live"], r["dead"])
            scrubbed += r["orphans"]
            if r["orphans"] and r["live"] + r["dead"] == 0:
                _hadoop_delete(spark, f"{index.vectors_path}/seg_id={sid}")
            elif r["orphans"]:
                rewrite.append(sid)
        if rewrite:
            keep = raw.filter(F.col("seg_id").isin(rewrite) & committed)
            staged_partition_rewrite(spark, keep, index.vectors_path, "seg_id")
    actions["orphans_scrubbed"] = scrubbed
    fixes: dict[int, dict] = {}
    for r in index._segment_rows():
        live, dead = truth.get(r["seg_id"], (0, 0))
        if r["count"] != live or r["deleted_count"] != dead:
            fixes[r["seg_id"]] = {"count": live, "deleted_count": dead}
    if fixes:
        index.update_segment_states(fixes)
    actions["counters_fixed"] = sorted(fixes)
    return actions


# ---------------------------------------------------------------------------
# GC: physical cleanup of unregistered partitions
# ---------------------------------------------------------------------------

def gc(index: VectorIndex) -> list[int]:
    """Delete partition directories (vectors + artifacts — one artifacts
    dir covers a segment's codebook/codes/adjacency) of seg_ids no
    longer in the registry — the physical half of the reference's
    source-clear (tasks/MaintenanceService.java:391-414), deferred so
    readers never race a file delete (registry visibility already hides
    them). Partition discovery is a filesystem listing (dir names ARE
    the seg_ids), zero Spark jobs."""
    spark = index.spark
    registered = set(index.registered_seg_ids())
    stale: set[int] = set()
    for path in (index.vectors_path, index.artifacts_path):
        for name in hadoop_list_dirs(spark, path):
            if not name.startswith("seg_id="):
                continue
            try:
                sid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if sid not in registered:
                stale.add(sid)
                _hadoop_delete(spark, f"{path}/{name}")
    return sorted(stale)
