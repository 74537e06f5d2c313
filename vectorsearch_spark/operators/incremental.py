"""Incremental aggregate maintenance: keep a grouped rollup current by
merging per-batch partial states instead of rescanning the base table
(materialized-view maintenance, the production shape for "nightly base
+ hourly delta" pipelines; north-star extension per BASELINE.json).

The algebra: ``count/sum/min/max`` are commutative-monoid aggregates,
so a rollup STATE (n, total, vmin, vmax) per group merges associatively
— ``state(base ∪ delta) = merge(state(base), state(delta))`` — and
derived values (avg) are finalized from the merged state. The merge
shuffles only STATE ROWS (O(|groups|), not O(|rows|)): at 100 TB the
delta pass reads one increment and the merge re-aggregates two
group-sized tables. This is exactly Spark's own partial-aggregation
contract (map-side combine) lifted to cross-batch persistence.

Append-only by construction: min/max are NOT retractable monoids — a
deletion/update in the base requires re-aggregating the affected
groups (the documented limitation of every min/max materialized view;
count/sum alone would admit retraction via negative weights).

The exactly-once fold protocol
------------------------------
Every streaming fold in this package (the ``fold_*_batch`` functions
here and in ``dedup.py``, ``sketch.py`` and ``urls.py``) is a
``foreachBatch`` body that Spark may replay after a crash. It is the
batch form of the reference's idempotent task re-claim
(tasks/SegmentBuildWorker.java:49-53), and every fold follows the same
steps, all defined in this module:

1. Argument checks first, so a bad config raises even on a replayed
   epoch.
2. ``epoch_already_applied(state_path, epoch_id)``: the guard. It
   reads the committed epoch from the ``MARKER`` file in the state dir.
   The committed epoch itself is a replay and is skipped. An older one
   raises "epoch regression": a fresh checkpoint dir restarts epoch ids
   at 0 against existing state, and skipping those would silently drop
   every batch. A torn marker is quarantined and reads as uncommitted.
3. ``source_snapshot(batch_df)``: a stream source is single-pass, so a
   fold that reads its batch more than once works from this snapshot.
4. Per-epoch state is written as ``epoch=<id>`` dirs, rewritten
   idempotently (mode=overwrite, deterministic content). Prior state is
   read only from epochs strictly below ``epoch_id``
   (``fsio.epoch_ids(below=)``), so a crashed attempt's partial dirs
   never feed its own replay.
5. ``commit_epoch(dir, epoch_id)`` publishes the marker last, by
   atomic replace. A crash before it leaves the previous marker, and
   the replay rewrites the same epoch dirs. The two whole-dir folds
   (``fold_rollup_batch``, ``fold_scd2_batch``) commit into their
   staged dir instead, so marker and content swap in by one rename
   (``fsio.swap_dir_in``; ``restore_swap_backup`` runs before the
   guard).

External readers load only epochs at or below ``committed_epoch``.
``start_fold_stream`` runs a fold over a stream until its source is
drained. The streaming index ingest (``streaming/ingest.py``) commits its epoch
mark in the index catalog instead, with the add's rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_spark.fsio import (
    epoch_ids,
    get_state_fs,
    restore_swap_backup,
    swap_dir_in,
    write_file_atomic,
)

STATE_COLS = ("n_rows", "total", "vmin", "vmax")

# the applied-epoch marker every fold commits last into its state dir
MARKER = "_last_epoch.json"


def _load_marker(state_path: str) -> "int | None":
    """The epoch committed at ``state_path``, or None when its marker is
    missing OR unreadable. An unparseable marker (power-loss partial
    write on a filesystem that reordered the data/rename syncs — r13
    ADVICE) is quarantined to ``<marker>.corrupt`` and treated as "not
    committed": every fold's epoch write is idempotent, so replaying
    the uncommitted epoch is the safe recovery, while crashing on
    json.loads would wedge the stream permanently."""
    fs = get_state_fs()
    marker = os.path.join(state_path, MARKER)
    if not fs.exists(marker):
        return None
    try:
        return int(json.loads(fs.read_text(marker))["epoch"])
    except (ValueError, KeyError, TypeError):
        fs.replace_file(marker, marker + ".corrupt")
        return None


def epoch_already_applied(state_path: str, epoch_id: int) -> bool:
    """The fold guard: True iff ``epoch_id`` is the epoch already
    committed at ``state_path`` (a foreachBatch replay — skip it).
    Raises on epoch REGRESSION (see the module docstring)."""
    last = _load_marker(state_path)
    if last is None:
        return False
    if last == epoch_id:
        return True
    if epoch_id < last:
        raise ValueError(
            f"epoch regression: batch epoch {epoch_id} < committed epoch "
            f"{last} at {state_path} — the stream checkpoint was reset "
            "against existing state; clear the state dir or restore the "
            "original checkpoint dir"
        )
    return False


def source_snapshot(batch_df: DataFrame) -> DataFrame:
    """The single-pass stream head: an eager local checkpoint of the
    micro-batch, for a fold that reads its batch more than once."""
    return batch_df.localCheckpoint()


def commit_epoch(state_path: str, epoch_id: int) -> None:
    """Marker-commits-last: atomically publish ``epoch_id`` as the
    epoch committed at ``state_path`` (fsio.write_file_atomic —
    co-located temp + atomic replace). The only writer of the marker.
    Creates ``state_path`` if no state write did; the swap folds call it
    on their staged dir, never on the live one, where an empty
    pre-created dir would hide a complete ``.old`` from
    ``restore_swap_backup``."""
    get_state_fs().makedirs(state_path)
    write_file_atomic(state_path, MARKER, json.dumps({"epoch": int(epoch_id)}))


def committed_epoch(state_path: str, reader: str) -> int:
    """The committed epoch id for external readers — raises with the
    reader's name when no fold has ever committed (or the marker was
    quarantined as unreadable). Readers must load ONLY this epoch's
    dirs (the crash-window contract applies to external reads, not
    just replays)."""
    last = _load_marker(state_path)
    if last is None:
        raise ValueError(f"{reader}: no committed epoch at {state_path}")
    return last


def start_fold_stream(df: DataFrame, checkpoint: str, apply):
    """Run ``apply(batch_df, epoch_id)`` — a fold — over every
    micro-batch of ``df`` until the source is drained; returns the
    StreamingQuery."""
    return (
        df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _split_ddl(schema_ddl: str) -> "list[str]":
    """Split a column-DDL string on TOP-LEVEL commas only — commas
    inside ``()`` / ``<>`` (DECIMAL(10,2), ARRAY<...>, STRUCT<...>)
    belong to the type, not the column list. Validates that every
    piece carries a name and a type (r12 ADVICE: a naive split(',')
    silently produced a corrupt CREATE TABLE for nested types)."""
    pieces, depth, cur = [], 0, []
    for ch in schema_ddl:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            pieces.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    pieces.append("".join(cur).strip())
    if depth != 0:
        raise ValueError(f"unbalanced brackets in schema DDL: {schema_ddl!r}")
    for p in pieces:
        if len(p.split(None, 1)) != 2:
            raise ValueError(
                f"schema DDL piece {p!r} is not '<name> <type>': {schema_ddl!r}"
            )
    return pieces


class EpochBucketedState:
    """The 100 TB layout for a streaming fold's keyed state (r12): one
    EXTERNAL parquet table per state substore, PARTITIONED BY ``epoch``
    and CLUSTERED BY the state's join/aggregation key into a fixed
    bucket count, living at ``{state_path}/{name}_bucketed``.

    Why: the folds' per-batch state reads are keyed — an anti-join on
    canonical url (URL frontier), an anti+semi join on chunk_text
    (passage dedup), a groupBy-sum on line key (line dedup). Over plain
    per-epoch parquet dirs each of those re-EXCHANGES the entire state
    at every fold; over this layout the bucketed scan already satisfies
    the join/aggregation distribution requirement, so the state is
    scanned but never shuffled and the per-fold exchange is O(batch).
    Size ``buckets`` to the cluster (a bucket is one task's state
    slice).

    Exactly-once mechanics match the plain layout one-for-one:
      * reads filter ``epoch < epoch_id`` (partition pruning), so a
        crashed attempt's partial CURRENT partition is invisible to
        its own replay;
      * writes are static-partition ``INSERT OVERWRITE`` — idempotent
        per-epoch rewrite, exactly like the dirs' mode=overwrite;
      * the fold's marker still commits last (this class never touches
        the marker).
    The catalog entry is re-derivable: the data dir is the durable
    artifact, and a fresh session (in-memory catalog) re-registers the
    same DDL and recovers partitions, so bucketed state survives
    restarts exactly like the plain dirs do.
    """

    @staticmethod
    def location_for(state_path: str, name: str) -> str:
        """The on-disk location of substore ``name`` under a state dir
        — THE single source of the layout's naming scheme (r12 ADVICE:
        urls._frontier_table re-derived it independently)."""
        return os.path.join(state_path, f"{name}_bucketed")

    @staticmethod
    def table_for(state_path: str, name: str) -> str:
        """Catalog table name for substore ``name`` (content-addressed
        by location so concurrent state dirs never collide) — derivable
        without a session, for tests/registry cleanup."""
        import hashlib

        loc = EpochBucketedState.location_for(state_path, name)
        return f"fold_state_{name}_" + hashlib.md5(loc.encode()).hexdigest()[:12]

    def __init__(
        self,
        spark,
        state_path: str,
        name: str,
        schema_ddl: str,
        key: str,
        buckets: int,
        sum_cols: "list[str] | None" = None,
        count_consumed: bool = False,
    ) -> None:
        self.spark = spark
        self.name = name
        self.schema_ddl = schema_ddl  # data columns only, no epoch
        self.key = key
        self.buckets = int(buckets)
        self.loc = self.location_for(state_path, name)
        self.table = self.table_for(state_path, name)
        pieces = _split_ddl(schema_ddl)
        self.cols = [p.split(None, 1)[0].strip("`") for p in pieces]
        self._types = {
            p.split(None, 1)[0].strip("`"): p.split(None, 1)[1] for p in pieces
        }
        # semantics flag (r12 ADVICE + VERDICT #5): None → SET state
        # (membership rows; duplicates are harmless to anti/semi joins);
        # a list → ADDITIVE state (these columns are summed monoids and
        # the remaining columns are the group key; duplicates would
        # double-sum, so compaction must be the staged-swap path).
        self.sum_cols = list(sum_cols) if sum_cols else None
        # r13 ADVICE: a SET substore whose READER counts rows per key
        # (e.g. the minhash fold's band-frequency cap) is NOT safe to
        # compact — the set path's crash windows tolerate duplicate
        # rows, which membership joins ignore but counts inflate.
        # Declaring it here turns a silent future miscount into a
        # loud error at the compaction call site.
        self.count_consumed = bool(count_consumed)
        if self.sum_cols:
            bad = [c for c in self.sum_cols if c not in self.cols]
            if bad:
                raise ValueError(f"sum_cols not in schema: {bad}")
            if self.key in self.sum_cols:
                # also guarantees a non-empty group-key set: the
                # cluster key is always a grouping column
                raise ValueError("the cluster key cannot be a summed column")

    def _ensure(self) -> bool:
        """Register (or recover) the table; False if no state exists
        yet. Always finishes a committed-but-interrupted compaction
        FIRST — every read and write path flows through here, so no
        reader can observe the mid-swap partition gap."""
        if self.spark.catalog.tableExists(self.table):
            self._finish_compact()
            return True
        if not get_state_fs().isdir(self.loc):
            return False
        cols = ", ".join(
            f"`{c}` {self._types[c]}" for c in self.cols
        )
        self.spark.sql(
            f"CREATE TABLE {self.table} ({cols}, epoch INT) USING PARQUET"
            f" PARTITIONED BY (epoch) CLUSTERED BY (`{self.key}`)"
            f" SORTED BY (`{self.key}`) INTO {self.buckets} BUCKETS"
            f" LOCATION '{self.loc}'"
        )
        self.spark.sql(f"MSCK REPAIR TABLE {self.table}")
        self._finish_compact()
        return True

    def read_before(self, epoch_id: int) -> "DataFrame | None":
        """State rows of epochs strictly before ``epoch_id`` as a
        bucketed scan (None when no state exists yet)."""
        if not self._ensure():
            return None
        return (
            self.spark.table(self.table)
            .where(F.col("epoch") < int(epoch_id))
            .select(*self.cols)
        )

    def write_epoch(self, df: DataFrame, epoch_id: int) -> None:
        """Idempotently (re)write ``epoch_id``'s rows.

        The batch is REPARTITIONED onto the bucket key first (r13):
        Spark's bucketed write emits one file per (task × bucket) —
        without clustering, a 32-task batch × 16 buckets wrote 512
        files PER EPOCH (SURVEY.md row "Compaction benefit, MEASURED"; at
        crawl scale that's millions of state files between
        compactions). Hash-repartitioning by the key into ``buckets``
        partitions aligns tasks with bucket ids (both are
        pmod(hash(key), n)), so each epoch writes exactly ``buckets``
        files. The exchange is O(batch) — the same size the fold
        already pays on its join/aggregate side."""
        clustered = df.select(*self.cols).repartition(
            self.buckets, F.col(self.key)
        )
        if not self._ensure():
            (
                clustered
                .withColumn("epoch", F.lit(int(epoch_id)).cast("int"))
                .write.partitionBy("epoch")
                .bucketBy(self.buckets, self.key)
                .sortBy(self.key)
                .option("path", self.loc)
                .format("parquet")
                .saveAsTable(self.table)
            )
            return
        v = f"__{self.table}_e{int(epoch_id)}"
        clustered.createOrReplaceTempView(v)
        cols = ", ".join(f"`{c}`" for c in self.cols)
        self.spark.sql(
            f"INSERT OVERWRITE TABLE {self.table}"
            f" PARTITION (epoch={int(epoch_id)}) SELECT {cols} FROM {v}"
        )
        self.spark.catalog.dropTempView(v)

    def _live_epochs(self) -> "list[int]":
        return epoch_ids(self.loc)

    def _drop_partition(self, e: int) -> None:
        """Catalog first, then dir (never the reverse — a catalog entry
        pointing at a deleted dir breaks scans; an orphan dir without a
        catalog entry is invisible until an MSCK)."""
        self.spark.sql(
            f"ALTER TABLE {self.table} DROP IF EXISTS PARTITION (epoch={e})"
        )
        get_state_fs().rmtree(os.path.join(self.loc, f"epoch={e}"))

    def compact_epochs(self, upto_epoch: int) -> None:
        """LSM-style maintenance: merge every epoch ≤ ``upto_epoch``
        into partition ``upto_epoch`` and remove the older partitions,
        bounding partition/file counts as folds accumulate. Call
        BETWEEN folds (single-writer: the fold owner runs compaction;
        concurrent external readers during a compaction are outside
        the contract, exactly as for the folds' own epoch protocol).

        Two crash-safe paths by state semantics (r12 ADVICE high — the
        old path INSERT OVERWROTE the live ``upto`` partition from a
        non-durable localCheckpoint, so a crash mid-write job lost that
        epoch's committed rows forever):

        SET state (``sum_cols=None``; membership rows — url frontier,
        surviving chunks): APPEND-ONLY merge. INSERT INTO partition
        ``upto`` the distinct rows of epochs STRICTLY OLDER, then drop
        the older partitions. No step ever deletes committed data
        before the new copy is table-visible (INSERT INTO commits via
        the staging protocol; a failed job leaves the partition
        unchanged), and every crash window at worst leaves DUPLICATE
        rows across or within partitions — set-safe: an anti/semi join
        or distinct read is invariant under duplication. Re-entrant:
        a replay re-inserts only partitions still on disk.

        ADDITIVE state (``sum_cols=[...]``; e.g. the line fold's
        keycounts, where folds SUM rows across epochs and a duplicate
        would double-count): marker-gated staged swap, the rollup
        fold's discipline lifted to the bucketed layout.
          1. INSERT OVERWRITE the merged per-group sums of epochs ≤
             ``upto`` into a private STAGING table with identical
             bucketing (no readers → overwrite is harmless; bucket
             file names stay valid for the rename below);
          2. commit point: atomically publish ``_compact_commit.json``
             (tempfile + os.replace) naming ``upto``;
          3. ``_finish_compact``: drop live partitions ≤ upto, RENAME
             the staged partition dir into place, re-add the
             partition, remove the marker.
        A crash before 2 changes nothing readers see (staging is
        private; re-entrant overwrite). A crash after 2 is completed
        by ``_finish_compact`` from ``_ensure`` before ANY read or
        write touches the table, and each recovery step is idempotent
        — including the one subtle window: after the rename consumed
        the staged dir, recovery must NOT drop the live ``upto``
        partition again, which is why the staged dir's existence picks
        the branch.
        """
        if self.count_consumed:
            raise ValueError(
                f"substore {self.name!r} is count-consumed: its readers "
                "count rows per key, and set-path compaction's crash "
                "windows can leave duplicate rows that inflate those "
                "counts. Declare the counted column additive (sum_cols) "
                "for the staged-swap path, or leave the substore "
                "uncompacted."
            )
        if not self._ensure():
            return
        upto = int(upto_epoch)
        if self.sum_cols is None:
            older = [e for e in self._live_epochs() if e < upto]
            if not older:
                return
            cols = ", ".join(f"`{c}`" for c in self.cols)
            self.spark.sql(
                # REPARTITION hint: align write tasks with bucket ids so
                # the merged partition lands as `buckets` files, not
                # (tasks × buckets) — see write_epoch
                f"INSERT INTO TABLE {self.table} PARTITION (epoch={upto})"
                f" SELECT /*+ REPARTITION({self.buckets}, `{self.key}`) */"
                f" DISTINCT {cols} FROM {self.table}"
                f" WHERE epoch < {upto}"
            )
            for e in older:
                self._drop_partition(e)
            return

        # additive: stage merged sums durably, then marker-gated swap
        if not any(e <= upto for e in self._live_epochs()):
            return
        group_cols = [c for c in self.cols if c not in self.sum_cols]
        aggs = ", ".join(
            f"CAST(sum(`{c}`) AS {self._types[c]}) AS `{c}`"
            for c in self.sum_cols
        )
        gcols = ", ".join(f"`{c}`" for c in group_cols)
        cols = ", ".join(f"`{c}`" for c in self.cols)
        stage_table, stage_loc = self._stage_names()
        # pre-create the staging location: Spark's insert path lists the
        # target partition dir's parent and LOGS a FileNotFoundException
        # stack (harmless but noisy) when the external location has
        # never been written
        get_state_fs().makedirs(stage_loc)
        if not self.spark.catalog.tableExists(stage_table):
            ddl_cols = ", ".join(f"`{c}` {self._types[c]}" for c in self.cols)
            self.spark.sql(
                f"CREATE TABLE {stage_table} ({ddl_cols}, epoch INT)"
                f" USING PARQUET PARTITIONED BY (epoch)"
                f" CLUSTERED BY (`{self.key}`) SORTED BY (`{self.key}`)"
                f" INTO {self.buckets} BUCKETS LOCATION '{stage_loc}'"
            )
        self.spark.sql(
            f"INSERT OVERWRITE TABLE {stage_table} PARTITION (epoch={upto})"
            f" SELECT /*+ REPARTITION({self.buckets}, `{self.key}`) */"
            f" {cols} FROM (SELECT {gcols}, {aggs} FROM {self.table}"
            f" WHERE epoch <= {upto} GROUP BY {gcols})"
        )
        write_file_atomic(
            self.loc, "_compact_commit.json", json.dumps({"upto": upto})
        )
        self._finish_compact()

    def _stage_names(self) -> "tuple[str, str]":
        return f"{self.table}__cstage", f"{self.loc}__cstage"

    def _finish_compact(self) -> None:
        """Complete (or recover) a marker-committed additive
        compaction — see ``compact_epochs``. Idempotent; no-op without
        a pending marker."""
        fs = get_state_fs()
        marker = os.path.join(self.loc, "_compact_commit.json")
        if not fs.exists(marker):
            return
        try:
            upto = int(json.loads(fs.read_text(marker))["upto"])
        except (ValueError, KeyError, TypeError):
            # power-loss partial marker = the compaction never
            # committed: quarantine and leave the live partitions
            # untouched (staging is private and re-entrant) — the
            # _load_marker discipline
            fs.replace_file(marker, marker + ".corrupt")
            return
        _, stage_loc = self._stage_names()
        staged = os.path.join(stage_loc, f"epoch={upto}")
        live = os.path.join(self.loc, f"epoch={upto}")
        if fs.isdir(staged):
            # staged copy not yet consumed: clear ≤ upto (incl. the
            # live upto — its content is IN the staged sums), move in
            for e in self._live_epochs():
                if e <= upto:
                    self._drop_partition(e)
            fs.rmtree(live)
            fs.rename(staged, live)
        else:
            # rename already happened on a prior attempt: the live
            # upto dir IS the merged state — only older partitions
            # (and only those still on disk) remain to clean up
            for e in self._live_epochs():
                if e < upto:
                    self._drop_partition(e)
        self.spark.sql(
            f"ALTER TABLE {self.table} ADD IF NOT EXISTS"
            f" PARTITION (epoch={upto})"
        )
        fs.remove(marker)


def rollup_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Aggregate a batch into mergeable per-group state:
    (keys…, n_rows, total, vmin, vmax) over ``value_col`` (NULL values
    count toward no measure, like SQL aggregates)."""
    return df.groupBy(*keys).agg(
        F.count(F.col(value_col)).alias("n_rows"),
        F.sum(F.col(value_col)).alias("total"),
        F.min(F.col(value_col)).alias("vmin"),
        F.max(F.col(value_col)).alias("vmax"),
    )


def merge_rollup_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge any number of state tables: union (by name) + one re-agg
    combining the monoids — groups present in only some states pass
    through, shared groups combine."""
    if not states:
        raise ValueError("need at least one state")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def finalize_rollup(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive the user-facing aggregate view from a state table —
    avg from (total, n_rows); groups whose measures were all NULL keep
    NULL aggregates (n_rows = 0)."""
    return state.select(
        *keys,
        F.col("n_rows"),
        F.col("total"),
        F.col("vmin"),
        F.col("vmax"),
        F.when(F.col("n_rows") > 0, F.col("total") / F.col("n_rows")).alias("avg"),
    )


def distinct_state(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Mergeable distinct-count state per group: an HLL sketch of
    ``col`` (Datasketches binary). Unlike count_distinct, the state
    merges across batches WITHOUT the raw values — register-wise max is
    associative and EXACT: sketch(A ∪ B) = merge(sketch(A), sketch(B))
    at equal lgK, so incremental maintenance loses nothing over a
    rescan (the estimate itself stays a ±~1.6% HLL estimate)."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(F.col(col)).alias("hll"))


def merge_distinct_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Union + hll_union_agg — same monoid-merge shape as
    ``merge_rollup_states``, shuffling O(|groups|) sketches."""
    if not states:
        raise ValueError("need at least one state")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(F.hll_union_agg(F.col("hll")).alias("hll"))


def finalize_distinct(state: DataFrame, keys: list[str]) -> DataFrame:
    """(keys…, n_distinct_est) from the sketch state."""
    return state.select(
        *keys, F.hll_sketch_estimate(F.col("hll")).alias("n_distinct_est")
    )


def maintain_rollup_stream(
    events: DataFrame,
    state_path: str,
    keys: list[str],
    value_col: str,
    checkpoint: str,
):
    """Keep a PERSISTENT rollup-state table current from a stream:
    every micro-batch folds into the parquet state at ``state_path``
    via ``merge_rollup_states`` (monoid merge — O(|groups| + |batch
    groups|) per batch, never a rescan of history). Returns the
    StreamingQuery; read the live view any time with
    ``finalize_rollup(spark.read.parquet(state_path), keys)``.
    Exactly-once by the fold protocol (module docstring): a blind
    re-merge of a replayed batch would double-count it.
    """
    return start_fold_stream(
        events,
        checkpoint,
        lambda batch_df, epoch_id: fold_rollup_batch(
            batch_df, epoch_id, state_path, keys, value_col
        ),
    )


def fold_rollup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    keys: list[str],
    value_col: str,
) -> None:
    """One micro-batch fold (the foreachBatch body, exposed for direct
    crash-injection testing): staged write + atomic rename with the
    applied-epoch marker riding inside the renamed dir (fsio
    swap_dir_in / restore_swap_backup)."""
    fs = get_state_fs()
    spark = batch_df.sparkSession
    # crash recovery: a crash between the two renames leaves no
    # live state but a complete .old — restore it before anything
    restore_swap_backup(state_path)
    if epoch_already_applied(state_path, epoch_id):
        return  # replayed epoch: already folded in
    delta = rollup_state(batch_df, keys, value_col)
    if fs.exists(os.path.join(state_path, "_SUCCESS")):
        prev = spark.read.parquet(state_path)
        merged = merge_rollup_states([prev, delta], keys)
    else:
        merged = delta
    tmp = state_path + ".tmp"
    fs.rmtree(tmp)
    merged.write.mode("overwrite").parquet(tmp)
    # the applied-epoch marker rides INSIDE the renamed dir, so
    # state content and marker swap in the same atomic rename — a
    # crash can never pair new state with an old marker (which a
    # replay would double-merge)
    commit_epoch(tmp, epoch_id)
    swap_dir_in(tmp, state_path)


# ---------------------------------------------------------------------------
# Incremental SCD2 dimension maintenance from a streaming changelog
# ---------------------------------------------------------------------------

def fold_scd2_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    on: str,
    ts: str = "ts",
    tiebreak: "str | None" = None,
) -> None:
    """One micro-batch fold of a changelog into a persistent SCD2
    dimension (the foreachBatch body, exposed for crash-injection
    tests).

    The state dir holds BOTH the accumulated raw changelog
    (``changelog/epoch=<id>/`` — one APPEND-ONLY dir per applied
    micro-batch, so a fold writes O(batch), never a history rewrite)
    and the materialized dimension (``dim/``). Keeping the raw history
    is what makes the fold EXACT under arbitrarily late, out-of-order
    rows: a collapsed dimension alone is lossy (a no-op update dropped
    by collapse can become a real version once a late row lands
    between it and its predecessor), so each fold recomputes
    ``changelog_to_scd2`` over the FULL history of only the TOUCHED
    keys — O(batch keys × their history) — and splices it with the
    untouched keys' existing dimension rows. The dimension rewrite
    itself is O(dimension) per fold; a huge dimension would partition
    ``dim/`` by key bucket and rewrite touched buckets only (the
    merge_upsert shape) without changing these semantics.

    Exactly-once by the fold protocol (module docstring), with the
    marker in the staged ``dim`` dir as for ``fold_rollup_batch``: a
    crash after the changelog-epoch write but before the dim swap
    replays into an idempotent overwrite of the same epoch dir.
    """
    from vectorsearch_spark.operators.events import changelog_to_scd2

    fs = get_state_fs()
    spark = batch_df.sparkSession
    dim_path = os.path.join(state_path, "dim")
    restore_swap_backup(dim_path)
    if epoch_already_applied(dim_path, epoch_id):
        return  # replayed epoch: already folded in
    batch = source_snapshot(batch_df)
    clog_root = os.path.join(state_path, "changelog")
    epoch_dir = os.path.join(clog_root, f"epoch={int(epoch_id)}")
    batch.write.mode("overwrite").parquet(epoch_dir)  # idempotent on replay
    have_dim = fs.exists(os.path.join(dim_path, "_SUCCESS"))
    touched = batch.select(on).distinct()
    full_clog = spark.read.schema(batch.schema).parquet(f"{clog_root}/epoch=*")
    if have_dim:
        hist = full_clog.join(F.broadcast(touched), on, "left_semi")
        scd_new = changelog_to_scd2(hist, on, ts=ts, tiebreak=tiebreak)
        prev = spark.read.parquet(dim_path)
        untouched = prev.join(F.broadcast(touched), on, "left_anti")
        scd_out = untouched.unionByName(scd_new.select(*prev.columns))
    else:
        scd_out = changelog_to_scd2(full_clog, on, ts=ts, tiebreak=tiebreak)
    tmp = dim_path + ".tmp"
    fs.rmtree(tmp)
    scd_out.write.mode("overwrite").parquet(tmp)
    commit_epoch(tmp, epoch_id)
    swap_dir_in(tmp, dim_path)


def stream_scd2_maintain(
    changelog: DataFrame,
    state_path: str,
    on: str,
    checkpoint: str,
    ts: str = "ts",
    tiebreak: "str | None" = None,
):
    """Keep a persistent SCD2 dimension current from a streaming
    changelog (see ``fold_scd2_batch``). Returns the StreamingQuery;
    read the live dimension any time from ``{state_path}/dim``."""
    return start_fold_stream(
        changelog,
        checkpoint,
        lambda batch_df, epoch_id: fold_scd2_batch(
            batch_df, epoch_id, state_path, on, ts=ts, tiebreak=tiebreak
        ),
    )
