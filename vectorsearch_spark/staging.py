"""Staged partition rewrite with a rename-based swap + crash recovery.

Shared by every rewrite of the index tables — the build's artifacts
write (index/build.py), the maintenance rewrites and the recovery's
orphan scrub (index/maintenance.py) — and by the keyed MERGE operator
(operators/merge.py).

Why not dynamic-partition overwrite: parquet cannot overwrite a path it
is reading, so every rewrite must stage first — but the previous
stage-then-dynamic-overwrite form then RE-READ and RE-ENCODED the
staged copy through a second write job. Replacing that second data pass
with O(#touched-partitions) filesystem renames halved the job count of
every delete/vacuum/merge rewrite (a pure scheduling/IO floor at
sandbox scale; at 100 TB it also halves the bytes written). Renames go
through the Hadoop FileSystem API, so any FS with atomic directory
rename (HDFS, local) gets the same guarantees; on object stores a
"rename" is a copy — there a table format (Delta/Iceberg) is the right
tool, which is the documented deployment note.

Crash protocol (per touched partition, in order):

1. staged data for ALL touched partitions is fully written under
   ``<table>/_swap_staging_<ts>/`` (underscore prefix: invisible to
   Spark partition discovery) — a crash before any swap leaves the
   live table byte-identical;
2. live dir renames to the HIDDEN backup ``.swap_old_<name>`` (dot
   prefix: invisible to partition discovery, so a crashed state never
   changes the table's inferred schema);
3. staged dir renames into place;
4. backup deletes.

``recover_partial_swaps`` restores invariant "every partition readable,
either fully-old or fully-new": a backup with NO live dir means the
crash hit between (2) and (3) → restore the backup (roll back); a
backup WITH a live dir means the crash hit between (3) and (4) → the
new data is in place, drop the backup (roll forward). Leftover staging
dirs are scrubbed. Per-partition atomicity only — a multi-partition
rewrite that crashes mid-loop leaves a mix of old and new partitions;
callers must be idempotent under rerun (delete/vacuum/merge all are:
re-running the same operation converges, asserted by the crash tests in
tests/test_merge.py and tests/test_index_lifecycle.py).

Single-writer contract: concurrent writers, or readers racing a swap,
are out of contract — the reference serializes maintenance through its
FDB task queue (tasks/MaintenanceWorker.java); here the caller owns
that serialization (one driver). A table format upgrades this to true
snapshot isolation without changing any operator's plan shape.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

STAGING_PREFIX = "_swap_staging_"
BACKUP_PREFIX = ".swap_old_"

# test seam: crash-injection hook, called as _FAULT(stage, detail) at
# "staged" / "backed_up" / "swapped" / "cleaned" points; tests
# monkeypatch this to raise mid-protocol
_FAULT: Callable[[str, str], None] | None = None


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), jvm


def _hpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def hadoop_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FS API (any supported FS)."""
    fs, jvm = _fs(spark, path)
    p = _hpath(jvm, path)
    if fs.exists(p):
        fs.delete(p, True)


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    fs, jvm = _fs(spark, path)
    return bool(fs.exists(_hpath(jvm, path)))


def hadoop_list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Child directory NAMES of ``path`` (empty if the path is absent)
    — partition-dir discovery without a Spark job."""
    fs, jvm = _fs(spark, path)
    root = _hpath(jvm, path)
    if not fs.exists(root):
        return []
    return [
        st.getPath().getName() for st in fs.listStatus(root) if st.isDirectory()
    ]


def staged_partition_rewrite(
    spark: SparkSession,
    updated: DataFrame,
    table_path: str,
    partition_col: "str | list[str]" = "seg_id",
    drop_missing: list | None = None,
) -> list[str]:
    """Replace exactly the ``partition_col`` partitions present in
    ``updated``: ONE partitioned write to a staging dir, then a
    per-partition rename swap (see module doc for the crash protocol).
    With a LIST of partition columns the write nests them all but the
    swap happens at the first (outermost) level — one rename replaces a
    whole partition subtree.

    ``drop_missing``: outermost partition VALUES whose live directories
    must be DELETED if the staged write produced no data for them — the
    fully-emptied-partition case (a partitioned write emits nothing for
    an empty group, so stale files would silently resurrect rows).
    Returns the swapped/dropped partition dir names.
    """
    cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    fs, jvm = _fs(spark, table_path)
    staging = f"{table_path.rstrip('/')}/{STAGING_PREFIX}{int(time.time() * 1000)}"
    updated.write.mode("overwrite").partitionBy(*cols).parquet(staging)
    if _FAULT:
        _FAULT("staged", staging)
    touched: list[str] = []
    prefix = f"{cols[0]}="
    try:
        staged_dirs = [
            s.getPath().getName()
            for s in fs.listStatus(_hpath(jvm, staging))
            if s.isDirectory() and s.getPath().getName().startswith(prefix)
        ]
        for name in sorted(staged_dirs):
            live = _hpath(jvm, f"{table_path}/{name}")
            backup = _hpath(jvm, f"{table_path}/{BACKUP_PREFIX}{name}")
            if fs.exists(backup):  # stale backup from a completed swap
                fs.delete(backup, True)
            if fs.exists(live):
                # Hadoop FileSystem.rename signals failure by returning
                # FALSE (dest exists, parent missing, FS quirk) — not by
                # raising. An unchecked false here would proceed to the
                # finally-block staging delete with the live partition
                # never replaced, silently losing the rewrite.
                if not fs.rename(live, backup):
                    raise IOError(f"backup rename failed: {name} -> {BACKUP_PREFIX}{name}")
                if _FAULT:
                    _FAULT("backed_up", name)
            if not fs.rename(_hpath(jvm, f"{staging}/{name}"), live):
                raise IOError(f"swap rename failed: {staging}/{name} -> {name}")
            if _FAULT:
                _FAULT("swapped", name)
            if fs.exists(backup):
                fs.delete(backup, True)
            touched.append(name)
        if drop_missing:
            staged_set = set(staged_dirs)
            for value in drop_missing:
                name = f"{prefix}{value}"
                if name not in staged_set:
                    hadoop_delete(spark, f"{table_path}/{name}")
                    touched.append(name)
    finally:
        hadoop_delete(spark, staging)
    if _FAULT:
        _FAULT("cleaned", staging)
    return touched


def recover_partial_swaps(spark: SparkSession, table_path: str) -> list[str]:
    """Restore the every-partition-readable invariant after a crash:
    roll back backups whose live dir is missing, roll forward (drop)
    backups whose live dir exists, scrub leftover staging dirs.
    Returns a log of actions taken (empty = clean)."""
    fs, jvm = _fs(spark, table_path)
    root = _hpath(jvm, table_path)
    if not fs.exists(root):
        return []
    actions: list[str] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(BACKUP_PREFIX):
            live_name = name[len(BACKUP_PREFIX):]
            live = _hpath(jvm, f"{table_path}/{live_name}")
            if fs.exists(live):
                fs.delete(st.getPath(), True)
                actions.append(f"dropped_backup:{live_name}")
            else:
                if not fs.rename(st.getPath(), live):
                    raise IOError(f"recovery rename failed: {name} -> {live_name}")
                actions.append(f"restored:{live_name}")
        elif name.startswith(STAGING_PREFIX) or name.startswith("_staging_") or name.startswith("_merge_staging_"):
            fs.delete(st.getPath(), True)
            actions.append(f"scrubbed_staging:{name}")
    return actions
