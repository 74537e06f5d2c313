"""Segmented vector-index catalog: on-disk layout, metadata, and the
public API facade (the Spark re-expression of ``api/VectorIndex.java``).

Layout under one root path (SURVEY §1.4 mapping of FdbDirectories):

    <root>/meta.json   the catalog: config JSON, the next_gid/max_seg_id
                       counters, the active segment, and the ``segments``
                       registry (seg_id, state, count, deleted_count,
                       created_at_ms, last_vacuum_at_ms)
    <root>/vectors/    parquet partitioned by seg_id:
                       (gid, vec_id, embedding, deleted, payload)
    <root>/artifacts/  parquet partitioned by (seg_id, kind): codebooks,
                       PQ codes and adjacency as a tagged union

The catalog is a driver-side JSON file, NOT a Spark table: the registry
is O(#segments) — thousands of rows at 100 TB — so running distributed
jobs to touch it is pure overhead (it cost ~2/3 of index-build wall
time as tiny parquet jobs). Every logical step commits the whole
catalog in ONE atomic temp+rename (``update_segment_states``), the
same single-writer transaction-log shape Delta Lake uses for its
`_delta_log` JSON and the one-transaction add of the reference
(gid counter, rows and segment meta together,
``fdb/FdbVectorStore.java:425-492``); on object storage this slot
would be a metastore or a conditional-put log. Row data stays in
distributed parquet. Vector rows whose gid is at or above the
committed ``next_gid`` belong to an add that never committed;
``recover()`` scrubs them.

The registry is the source of truth for visibility: readers
always semi-join against registered seg_ids, so a WRITING destination's
files are invisible until the registry swap (the Spark analog of
``fdb/FdbVectorIndex.java:646-649`` + the compaction swap at
``tasks/MaintenanceService.java:391-414``). gid→(seg_id, vec_id) needs
no side tables — they are columns of the vectors table, so resolveIds
(``fdb/FdbVectorIndex.java:500-525``) is a projection/semi-join.

Driver state is O(#segments) only (registry + next_gid); all row data
stays distributed. At 100 TB, size ``max_segment_size`` so one segment
build fits one executor task (same constraint the reference has:
one segment per build worker).
"""

from __future__ import annotations

import itertools
import json
import time
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectorsearch_spark.config import (
    ACTIVE,
    COMPACTING,
    PENDING,
    SEALED,
    SEARCHABLE_BRUTE,
    SEARCHABLE_SEALED,
    WRITING,
    IndexConfig,
)
from vectorsearch_spark.fsio import get_state_fs, write_file_atomic
from vectorsearch_spark.staging import hadoop_exists

# On-disk layout version, stamped into meta.json at create and checked
# at open. v2: unified artifacts table (codebooks/codes/adjacency as a
# tagged union partitioned by (seg_id, kind)) replacing three separate
# tables. v3: the segment registry lives in meta.json, so one rename
# commits registry and counters together. Older indexes must rebuild.
LAYOUT_VERSION = 3

SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("seg_id", T.IntegerType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("count", T.LongType(), False),
        T.StructField("deleted_count", T.LongType(), False),
        T.StructField("created_at_ms", T.LongType(), False),
        T.StructField("last_vacuum_at_ms", T.LongType(), True),
    ]
)

VECTORS_SCHEMA = T.StructType(
    [
        T.StructField("gid", T.LongType(), False),
        T.StructField("seg_id", T.IntegerType(), False),
        T.StructField("vec_id", T.IntegerType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        T.StructField("deleted", T.BooleanType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


PQ_SEED_ONLY = "PQ_SEED_ONLY"
RANDOM_PIVOTS = "RANDOM_PIVOTS"
SEARCH_MODES = ("AUTO", "BRUTE", "PQ", "GRAPH", "BEAM")


@dataclass(frozen=True)
class SearchParams:
    """Per-query knobs (api/SearchParams.java:15-43).

    Full surface parity with the reference's SearchParams: ef
    (candidate pool), beam (beamWidth), max_iters (maxIters), min_hops
    (minHops), max_explore (maxExplore), pivots + seed_strategy
    (SearchParams.java:39-42, seeding at fdb/FdbVectorIndex.java:801-812),
    per_seg_limit (perSegmentLimitMultiplier resolved to an absolute
    cap), normalize_on_read. The comment on each field names the modes
    that honor it; batch adaptations are documented in index/search.py.
    An unknown ``mode`` or ``seed_strategy`` raises ``ValueError``.
    """

    # PQ/GRAPH/BEAM: candidate pool per (query, sealed segment); None →
    # auto. ef ≥ segment rows makes every row a candidate (exact).
    ef: int | None = None
    # every mode: per-segment result cap; None → max(k, k*oversample)
    # (SearchParams.java:73-82)
    per_seg_limit: int | None = None
    # AUTO (PQ for search, BRUTE for search_join) | BRUTE (exact
    # everywhere) | PQ (two-phase) | GRAPH (best-first traversal) |
    # BEAM (deprecated in the reference — WARN-once parity,
    # fdb/FdbVectorIndex.java:369-372 — but still served: a migrating
    # user's mode=BEAM queries keep working)
    mode: str = "AUTO"
    normalize_on_read: bool = False
    # GRAPH: PQ seeds per (query, segment) under PQ_SEED_ONLY; BEAM:
    # beam width. None → max(k, ef // 4)
    beam: int | None = None
    # GRAPH: hop bound — a node h hops from a seed is expanded only
    # while h < max_iters (0 = seeds only); BEAM: expansion hops
    max_iters: int = 6
    # BEAM only: a hop that finds no new node ends the expansion only
    # once min_hops hops have run
    min_hops: int = 0
    # GRAPH/BEAM: cap on nodes visited per (query, segment), seeds included
    max_explore: int | None = None
    # GRAPH under RANDOM_PIVOTS, and BEAM: entry points per segment
    pivots: int = 8
    # GRAPH only: PQ_SEED_ONLY | RANDOM_PIVOTS (BEAM always uses pivots)
    seed_strategy: str = PQ_SEED_ONLY
    # BEAM only: pick the next frontier from newly∪frontier (True, the
    # reference default) or newly alone (SearchParams.java:25,45)
    refine_frontier: bool = True

    def __post_init__(self) -> None:
        if self.mode not in SEARCH_MODES:
            raise ValueError(f"mode must be one of {SEARCH_MODES}; got {self.mode!r}")
        if self.seed_strategy not in (PQ_SEED_ONLY, RANDOM_PIVOTS):
            raise ValueError(
                f"seed_strategy must be {PQ_SEED_ONLY!r} or {RANDOM_PIVOTS!r}; "
                f"got {self.seed_strategy!r}"
            )


_SIDE_IDS = itertools.count()


class VectorIndex:
    """Facade over the segmented tables; all methods are batch jobs."""

    def __init__(self, spark: SparkSession, path: str, config: IndexConfig):
        self.spark = spark
        self.path = path.rstrip("/")
        self.config = config
        self._meta_cache: dict | None = None
        # the handle's one search cache (the SegmentCaches analog,
        # cache/SegmentCaches.java): the persisted, segment-bucketed
        # searchable side, codebooks included (see searchable_side)
        self._searchable_side_cache: tuple[DataFrame, int] | None = None

    # -- paths ---------------------------------------------------------
    @property
    def meta_path(self) -> str:
        return f"{self.path}/meta.json"

    @property
    def vectors_path(self) -> str:
        return f"{self.path}/vectors"

    @property
    def artifacts_path(self) -> str:
        """Unified build-artifact table (codebooks + PQ codes +
        adjacency as a tagged union), partitioned by (seg_id, kind):
        ONE write job per build instead of three (measured ~0.3 s of
        scheduling floor each), one partition-dir delete covers a
        segment's full artifact set for vacuum/compaction GC, and
        reads stay pruned — kind is a partition column (dir-level
        pruning per artifact family) and parquet's columnar layout
        means a codes scan never touches the adjacency/centroid
        columns."""
        return f"{self.path}/artifacts"

    # -- lifecycle -----------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, path: str, config: IndexConfig) -> "VectorIndex":
        idx = cls(spark, path, config)
        # a create starts from NOTHING: never seed carried-through keys
        # from a stale meta.json at the same path
        idx._meta_cache = {
            "layout": LAYOUT_VERSION,
            "config_json": config.to_json(),
            "next_gid": 0,
            "max_seg_id": -1,
            "has_payload": False,
            "active_seg_id": None,
            "active_fill": 0,
            "segments": [],
        }
        idx.update_segment_states({})
        return idx

    @classmethod
    def create_or_open(
        cls, spark: SparkSession, path: str, config: IndexConfig
    ) -> "VectorIndex":
        """The reference's main entry point (api/VectorIndex.java:43-49
        createOrOpen): open the index at ``path`` if its meta exists —
        validating the requested config against the stored one — else
        create it."""
        if get_state_fs().exists(f"{path.rstrip('/')}/meta.json"):
            return cls.open(spark, path, config)
        return cls.create(spark, path, config)

    @classmethod
    def open(
        cls, spark: SparkSession, path: str, config: IndexConfig | None = None
    ) -> "VectorIndex":
        """Open an existing index; like fdb/FdbVectorStore.java:124-166 a
        mismatched requested config raises."""
        meta = json.loads(get_state_fs().read_text(f"{path.rstrip('/')}/meta.json"))
        if meta.get("layout", 1) != LAYOUT_VERSION:
            raise ValueError(
                f"index at {path} has on-disk layout "
                f"v{meta.get('layout', 1)}, this build reads "
                f"v{LAYOUT_VERSION} — rebuild the index"
            )
        stored = IndexConfig.from_json(meta["config_json"])
        if config is not None:
            stored.validate_same(config)
        idx = cls(spark, path, stored)
        idx._meta_cache = meta
        return idx

    def _meta(self) -> dict:
        if self._meta_cache is None:
            self._meta_cache = json.loads(get_state_fs().read_text(self.meta_path))
        return self._meta_cache

    @property
    def next_gid(self) -> int:
        return self._meta()["next_gid"]

    @property
    def max_seg_id(self) -> int:
        return self._meta()["max_seg_id"]

    @property
    def has_payload(self) -> bool:
        """Sticky-true once any batch ingested payloads — lets search
        skip the payload-attach join entirely for payload-free indexes."""
        return self._meta()["has_payload"]

    @property
    def active_seg_id(self) -> int | None:
        """Segment currently accepting writes; None → the next ingest
        allocates a fresh segment from max_seg_id."""
        return self._meta()["active_seg_id"]

    @property
    def active_fill(self) -> int:
        """Rows ever written to the active segment (fill high-water mark;
        monotone — delete/vacuum never lower it, so appended vec_ids are
        always fresh)."""
        return self._meta()["active_fill"]

    # -- registry ------------------------------------------------------
    def segments(self) -> DataFrame:
        rows = [
            tuple(r[f.name] for f in SEGMENTS_SCHEMA.fields) for r in self._segment_rows()
        ]
        return self.spark.createDataFrame(rows, SEGMENTS_SCHEMA)

    def _segment_rows(self) -> list[dict]:
        return [dict(r) for r in self._meta()["segments"]]

    def update_segment_states(self, updates: dict[int, dict | None], **fields) -> None:
        """The one catalog writer: apply per-seg_id field updates to the
        registry (a seg mapped to None is dropped — compaction source
        clear) and set the top-level ``fields`` (counters, active
        segment, streaming epoch bookkeeping) in ONE atomic replace of
        meta.json. ``next_gid``/``max_seg_id`` are the monotonic
        counters of the reference (FdbDirectories.java:87-88): gids are
        never reused and neither are seg_ids — ingest rotation and
        compaction destinations both allocate from max_seg_id, so the
        two never collide. Unknown keys already in the meta are
        carried through, seeded from the file when this handle has not
        read it yet. Every catalog write drops the searchable side
        here, the mutation choke point."""
        meta = {**self._meta(), **fields}
        rows = []
        for r in meta["segments"]:
            u = updates.get(r["seg_id"], {})
            if u is not None:
                rows.append({**r, **u})
        known = {r["seg_id"] for r in meta["segments"]}
        for sid, u in updates.items():
            if sid in known or u is None:
                continue
            new = {"seg_id": sid, "state": WRITING, "count": 0, "deleted_count": 0,
                   "created_at_ms": int(time.time() * 1000), "last_vacuum_at_ms": None}
            rows.append({**new, **u})
        meta["segments"] = sorted(rows, key=lambda r: r["seg_id"])
        get_state_fs().makedirs(self.path)
        write_file_atomic(self.path, "meta.json", json.dumps(meta, separators=(",", ":")))
        self._meta_cache = meta
        self.drop_searchable_side()

    def registered_seg_ids(self, states: tuple[str, ...] | None = None) -> list[int]:
        return [
            r["seg_id"]
            for r in self._segment_rows()
            if states is None or r["state"] in states
        ]

    # -- tables (visibility-filtered) ----------------------------------
    def vectors(self, states: tuple[str, ...] | None = None) -> DataFrame:
        """Vector rows of registered segments (WRITING excluded unless
        asked for) — partition pruning via seg_id IN (...)."""
        df = self.spark.read.schema(VECTORS_SCHEMA).parquet(self.vectors_path)
        visible = self.registered_seg_ids(states)
        return df.filter(F.col("seg_id").isin(visible))

    def _artifacts(self) -> DataFrame:
        from vectorsearch_spark.index.build import ARTIFACTS_SCHEMA

        # a build of segments without live rows writes no artifacts
        if not hadoop_exists(self.spark, self.artifacts_path):
            return self.spark.createDataFrame([], ARTIFACTS_SCHEMA)
        return self.spark.read.schema(ARTIFACTS_SCHEMA).parquet(self.artifacts_path)

    def codes(self, seg_ids: list[int]) -> DataFrame:
        return (
            self._artifacts()
            .filter((F.col("kind") == "code") & F.col("seg_id").isin(seg_ids))
            .select("seg_id", "vec_id", "codes")
        )

    def adjacency(self, seg_ids: list[int]) -> DataFrame:
        return (
            self._artifacts()
            .filter((F.col("kind") == "adj") & F.col("seg_id").isin(seg_ids))
            .select("seg_id", "vec_id", "neighbor_ids")
        )

    def codebooks(self, seg_ids: list[int] | None = None) -> DataFrame:
        df = self._artifacts().filter(F.col("kind") == "cb")
        if seg_ids is not None:
            df = df.filter(F.col("seg_id").isin(seg_ids))
        return df.select("seg_id", "m", "k", "sub_dim", "centroids", "rotation")

    def codebooks_np(self, seg_ids: list[int]) -> dict[int, "object"]:
        """{seg_id: (m, k, sub_dim) float64 ndarray} for those of the
        given segments that have a codebook; one collect per call. A
        search never calls it: it reads each sealed segment's codebook
        from the searchable side, in the segment's own task."""
        import numpy as np

        return {
            int(r["seg_id"]): np.array(r["centroids"], dtype=np.float64).reshape(
                r["m"], r["k"], r["sub_dim"]
            )
            for r in self.codebooks(seg_ids).collect()
        }

    def searchable_side(self) -> tuple[DataFrame, int]:
        """(side, B): every searchable segment as one persisted frame
        that every search of this handle reuses (the analog of
        cache/SegmentCaches.java). A tagged union of the ``vec`` rows
        (gid, deleted, embedding) of the ACTIVE, PENDING, SEALED and
        COMPACTING segments and the artifact rows (gid -1) of the SEALED
        and COMPACTING ones only: ``code`` (codes), ``adj``
        (neighbor_ids) and the one ``cb`` row (vec_id -1: m, k, sub_dim,
        centroids and the OPQ rotation, NULL for plain PQ). A PENDING
        segment whose build stopped before its seal keeps being
        brute-searched. Rows are bucketed ``__b = pmod(hash(seg_id), B)``
        with one bucket per segment, capped at 256, so a whole segment
        lives in one search task, and repartitioned by ``__b`` once, so
        a search's cogroup reads the side without an exchange. It has
        at least ``spark.sql.shuffle.partitions`` partitions: with
        fewer, the planner would shuffle it again to meet the query
        side.

        Built lazily (no Spark job until a search runs). It lives until
        the next registry write, and every add, delete, build, vacuum
        and compaction writes the registry; ``recover()`` drops it too,
        because its swap recovery rewrites the tables without one. A
        second handle on the same path keeps its own copy: the
        single-writer contract of the registry cache."""
        if self._searchable_side_cache is None:
            segs = self.registered_seg_ids(SEARCHABLE_BRUTE + SEARCHABLE_SEALED)
            vec = self.vectors(states=SEARCHABLE_BRUTE + SEARCHABLE_SEALED).select(
                "seg_id", F.lit("vec").alias("kind"), "vec_id", "gid", "deleted", "embedding"
            )
            art = (
                self._artifacts()
                .filter(F.col("seg_id").isin(self.registered_seg_ids(SEARCHABLE_SEALED)))
                .select("seg_id", "kind", F.coalesce("vec_id", F.lit(-1)).alias("vec_id"),
                        F.lit(-1).cast("long").alias("gid"), "codes", "neighbor_ids",
                        "m", "k", "sub_dim", "centroids", "rotation")
            )
            n_buckets = min(max(len(segs), 1), 256)
            side = vec.unionByName(art, allowMissingColumns=True).withColumn(
                "__b", F.pmod(F.hash("seg_id"), F.lit(n_buckets))
            )
            parts = max(n_buckets, int(self.spark.conf.get("spark.sql.shuffle.partitions")))
            # Spark serves one cached copy to every equal plan, and two
            # handles (or two generations of one handle) can build equal
            # plans over different files: a unique literal keeps each
            # side's cache its own
            side = side.withColumn("__side", F.lit(next(_SIDE_IDS)))
            side = side.repartition(parts, "__b").persist(StorageLevel.MEMORY_AND_DISK)
            self._searchable_side_cache = (side, n_buckets)
        return self._searchable_side_cache

    def drop_searchable_side(self) -> None:
        """Unpersist the cached searchable side; the next search
        rebuilds it."""
        if self._searchable_side_cache is not None:
            self._searchable_side_cache[0].unpersist()
            self._searchable_side_cache = None

    def resolve_ids(self, gids: list[int]) -> DataFrame:
        """gid → (seg_id, vec_id); missing gids absent from the result
        (fdb/FdbVectorIndex.java:500-525 returns -1 — callers here
        detect absence instead)."""
        return (
            self.vectors()
            .filter(F.col("gid").isin([int(g) for g in gids]))
            .select("gid", "seg_id", "vec_id", "deleted")
        )

    # -- operations (implemented in sibling modules) -------------------
    def add(
        self,
        df: DataFrame,
        embedding_col: str = "embedding",
        payload_col: str | None = None,
        order_col: str | None = None,
        meta_extra: dict | None = None,
    ) -> int:
        """``meta_extra`` keys ride the add's one catalog commit — the
        same rename makes the rows visible (streaming uses this to mark
        an epoch applied in the same transaction as its rows)."""
        from vectorsearch_spark.index.ingest import add_vectors

        return add_vectors(self, df, embedding_col, payload_col, order_col, meta_extra)

    def build(self, seg_ids: list[int] | None = None, seal: bool = True) -> list[int]:
        from vectorsearch_spark.index.build import build_segments

        return build_segments(self, seg_ids, seal=seal)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        params: SearchParams | None = None,
        filter_gids: DataFrame | None = None,
    ) -> DataFrame:
        from vectorsearch_spark.index.search import search

        return search(
            self, queries, k, params or SearchParams(), filter_gids=filter_gids
        )

    def search_join(
        self,
        queries: DataFrame,
        k: int = 10,
        params: SearchParams | None = None,
        filter_gids: DataFrame | None = None,
    ) -> DataFrame:
        """``search`` whose ``mode="AUTO"`` is exhaustive-exact."""
        from vectorsearch_spark.index.search import search_join

        return search_join(
            self, queries, k, params or SearchParams(), filter_gids=filter_gids
        )

    def delete(self, gids: list[int]) -> int:
        from vectorsearch_spark.index.maintenance import delete_gids

        return delete_gids(self, gids)

    def vacuum(self, seg_id: int, force: bool = False, min_deleted_ratio: float = 0.25) -> bool:
        from vectorsearch_spark.index.maintenance import vacuum_segment

        return vacuum_segment(self, seg_id, force, min_deleted_ratio)

    def plan_compaction(self, max_batch: int | None = None) -> list[int]:
        from vectorsearch_spark.index.maintenance import find_compaction_candidates

        return find_compaction_candidates(self, max_batch)

    def compact(self, seg_ids: list[int]) -> int:
        from vectorsearch_spark.index.maintenance import compact_segments

        return compact_segments(self, seg_ids)

    def gc(self) -> list[int]:
        from vectorsearch_spark.index.maintenance import gc

        return gc(self)

    def recover(self) -> dict:
        """Writer-restart crash recovery (see maintenance.recover):
        restores interrupted partition swaps, rolls back WRITING /
        COMPACTING registry leftovers, GCs orphaned dirs, scrubs the
        rows of uncommitted adds. Single-writer contract — call before
        issuing new writes."""
        from vectorsearch_spark.index.maintenance import recover

        return recover(self)

    # -- stats ---------------------------------------------------------
    def deleted_ratio(self) -> DataFrame:
        """del/(live+del) per segment (fdb/FdbVectorIndex.java:580-582)."""
        s = self.segments()
        return s.select(
            "seg_id",
            "state",
            (
                F.col("deleted_count")
                / F.when(F.col("count") + F.col("deleted_count") == 0, F.lit(1)).otherwise(
                    F.col("count") + F.col("deleted_count")
                )
            ).alias("deleted_ratio"),
        )
