"""End-to-end index lifecycle tests — the Spark mirror of the
reference's integration suite (api/VectorIndexTest.java,
GidCompactionStabilityTest.java, SearchIgnoresWritingSegmentTest.java):
rotation at cap, order preservation, recall ≥ 0.9, delete/vacuum,
compaction gid-stability, WRITING invisibility."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.jobs import jobs_launched
from vectorsearch_spark.config import (
    ACTIVE,
    COMPACTING,
    PENDING,
    SEALED,
    WRITING,
    IndexConfig,
    Metric,
)
from vectorsearch_spark.index import SearchParams, VectorIndex

N, DIM, CAP = 200, 8, 50  # mirrors api/VectorIndexTest.java:211-258 fixture


def _gaussian_df(spark, n, dim, seed):
    rng = np.random.default_rng(seed)
    data = rng.normal(size=(n, dim)).astype(np.float32)
    return (
        spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(data)], "row_id long, embedding array<float>"
        ),
        data,
    )


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vsidx"))
    cfg = IndexConfig(
        name="t",
        dimension=DIM,
        metric=Metric.L2,
        max_segment_size=CAP,
        pq_m=4,
        pq_k=16,
        graph_degree=16,
        graph_build_breadth=32,
        graph_alpha=1.2,
        oversample=4,
        seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, N, DIM, seed=42)
    first = idx.add(df.repartition(4), order_col="row_id")
    assert first == 0
    sealed = idx.build()
    return idx, data, sealed


def test_rotation_at_cap(built_index):
    idx, _, _ = built_index
    segs = {r["seg_id"]: r for r in idx.segments().collect()}
    assert sorted(segs) == [0, 1, 2, 3]  # 200 rows / cap 50
    assert all(r["count"] == CAP for r in segs.values())


def test_build_sealed_all(built_index):
    idx, _, sealed = built_index
    assert sealed == [0, 1, 2, 3]
    assert all(r["state"] == SEALED for r in idx.segments().collect())
    cbs = idx.codebooks().collect()
    assert len(cbs) == 4
    assert all(len(r["centroids"]) == 4 * 16 * 2 for r in cbs)
    assert idx.codes([0, 1, 2, 3]).count() == N
    adj = idx.adjacency([0, 1, 2, 3])
    assert adj.count() == N
    assert adj.filter(F.size("neighbor_ids") > 16).count() == 0


def test_gid_embedding_order_preserved(built_index):
    # addAll order preservation across rotations
    # (fdb/FdbVectorStoreIntegrationTest.java:58-104)
    idx, data, _ = built_index
    rows = idx.vectors().select("gid", "embedding").collect()
    assert len(rows) == N
    for r in rows:
        assert np.allclose(np.array(r["embedding"]), data[r["gid"]], atol=1e-6)


def test_seg_vec_assignment(built_index):
    idx, _, _ = built_index
    rows = idx.vectors().select("gid", "seg_id", "vec_id").collect()
    for r in rows:
        assert r["seg_id"] == r["gid"] // CAP
        assert r["vec_id"] == r["gid"] % CAP


def _queries_df(spark, data, ids):
    return spark.createDataFrame(
        [(int(i), data[i].tolist()) for i in ids], "query_id long, embedding array<float>"
    )


def test_sealed_recall_at_10(spark, built_index):
    # recall@10 ≥ 0.9 over 30 self-queries (api/VectorIndexTest.java:211-258)
    idx, data, _ = built_index
    qids = list(range(0, N, N // 30))[:30]
    qdf = _queries_df(spark, data, qids)
    approx = idx.search(qdf, k=10)
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE"))
    approx_ids = {}
    for r in approx.collect():
        approx_ids.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in approx_ids[r["query_id"]]
    assert total == 30 * 10
    assert hits / total >= 0.9


def test_search_exact_top1_is_self(spark, built_index):
    idx, data, _ = built_index
    qdf = _queries_df(spark, data, [7, 63, 150])
    res = idx.search(qdf, k=1).collect()
    assert {r["query_id"]: r["gid"] for r in res} == {7: 7, 63: 63, 150: 150}
    for r in res:
        assert abs(r["distance"]) < 1e-5
        assert r["score"] == -r["distance"]  # L2 score convention (C6)


def test_search_empty_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vsempty"))
    cfg = IndexConfig(name="e", dimension=4, max_segment_size=10, pq_m=2, pq_k=4)
    idx = VectorIndex.create(spark, path, cfg)
    qdf = spark.createDataFrame([(0, [0.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<float>")
    assert idx.search(qdf, k=5).count() == 0


def test_dimension_validation(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vsdim"))
    idx = VectorIndex.create(
        spark, path, IndexConfig(name="d", dimension=4, max_segment_size=10, pq_m=2, pq_k=4)
    )
    bad = spark.createDataFrame([(1, [1.0, 2.0])], "row_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dimension"):
        idx.add(bad)


def test_open_validates_config(spark, built_index):
    idx, _, _ = built_index
    reopened = VectorIndex.open(idx.spark, idx.path)
    assert reopened.config == idx.config
    with pytest.raises(ValueError, match="mismatch"):
        VectorIndex.open(
            idx.spark,
            idx.path,
            IndexConfig(name="t", dimension=16, max_segment_size=50, pq_m=4, pq_k=16),
        )


class TestMutationFlow:
    """Delete → vacuum → compact on a dedicated index (ordered within
    the class; each step builds on the previous)."""

    @pytest.fixture(scope="class")
    def mut(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("vsmut"))
        cfg = IndexConfig(
            name="m", dimension=DIM, max_segment_size=CAP, pq_m=4, pq_k=16,
            graph_degree=8, graph_build_breadth=16, graph_alpha=1.2, seed=42,
        )
        idx = VectorIndex.create(spark, path, cfg)
        df, data = _gaussian_df(spark, 120, DIM, seed=1234)
        idx.add(df)  # segs 0,1 full; seg 2 has 20 rows (ACTIVE)
        idx.build()
        return idx, data

    def test_states_after_partial_fill(self, mut):
        idx, _ = mut
        st = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
        assert st == {0: SEALED, 1: SEALED, 2: ACTIVE}

    def test_delete_tombstones_and_counters(self, spark, mut):
        idx, data = mut
        assert idx.delete([5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17]) == 13
        seg0 = [r for r in idx.segments().collect() if r["seg_id"] == 0][0]
        assert seg0["count"] == CAP - 13 and seg0["deleted_count"] == 13
        # deleted gids never surface in search (F1 tombstone filter)
        qdf = _queries_df(spark, data, [5])
        res = idx.search(qdf, k=5).collect()
        assert all(r["gid"] not in range(5, 18) for r in res)
        # idempotent: re-delete returns 0
        assert idx.delete([5]) == 0

    def test_deleted_ratio_and_vacuum_gate(self, mut):
        idx, _ = mut
        ratios = {r["seg_id"]: r["deleted_ratio"] for r in idx.deleted_ratio().collect()}
        assert abs(ratios[0] - 13 / 50) < 1e-9
        from vectorsearch_spark.index.maintenance import vacuum_due

        assert vacuum_due(idx, min_deleted_ratio=0.25) == [0]
        assert vacuum_due(idx, min_deleted_ratio=0.5) == []

    def test_vacuum_physically_removes(self, mut):
        idx, _ = mut
        assert idx.vacuum(99) is False  # unknown segment
        assert idx.vacuum(1) is False   # ratio below threshold
        assert idx.vacuum(0) is True
        seg0_rows = idx.vectors().filter(F.col("seg_id") == 0)
        assert seg0_rows.count() == CAP - 13
        assert seg0_rows.filter(F.col("deleted")).count() == 0
        # artifacts pruned with the rows
        assert idx.codes([0]).count() == CAP - 13
        assert idx.adjacency([0]).count() == CAP - 13
        seg0 = [r for r in idx.segments().collect() if r["seg_id"] == 0][0]
        assert seg0["deleted_count"] == 0
        assert seg0["last_vacuum_at_ms"] is not None
        from vectorsearch_spark.index.maintenance import vacuum_due

        # cooldown gate (fdb/FdbVectorIndex.java:552-608)
        idx.delete(list(range(20, 40)))
        assert vacuum_due(idx, 0.25, cooldown_ms=10**9) == []
        assert vacuum_due(idx, 0.25, cooldown_ms=0) == [0]

    def test_compaction_planner_picks_small_sealed(self, mut):
        idx, _ = mut
        # seg1 is still full (50 live) → not a candidate, and seg0 alone
        # is not enough (need ≥2), so the planner declines
        assert idx.plan_compaction() == []
        # fragment seg1: 30 deletes leave 20 live; now 17+20 ≤ 80% budget
        assert idx.delete(list(range(50, 80))) == 30
        assert idx.plan_compaction() == [0, 1]

    def test_compact_gid_stability(self, spark, mut):
        # api/GidCompactionStabilityTest.java:52-118: results identical
        # before/after compaction, gids unchanged, new segment SEALED
        idx, data = mut
        qdf = _queries_df(spark, data, [60, 80, 100])
        before = {(r["query_id"], r["rank"]): r["gid"] for r in idx.search(qdf, k=5, params=SearchParams(mode="BRUTE")).collect()}
        dest = idx.compact([0, 1])
        assert dest == 3
        st = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
        assert st == {2: ACTIVE, 3: SEALED}
        after = {(r["query_id"], r["rank"]): r["gid"] for r in idx.search(qdf, k=5, params=SearchParams(mode="BRUTE")).collect()}
        assert before == after
        # old live gids resolve into the new segment; tombstoned gids
        # (60 was deleted above) are gone entirely
        res = {r["gid"]: r["seg_id"] for r in idx.resolve_ids([80, 81, 60]).collect()}
        assert res == {80: 3, 81: 3}
        # deleted rows were dropped by the merge: seg0 had 17 live
        # (50 - 13 vacuumed - 20 tombstoned), seg1 had 20 live
        assert idx.vectors().filter(F.col("seg_id") == 3).count() == 37

    def test_gc_removes_stale_partitions(self, mut):
        idx, _ = mut
        stale = idx.gc()
        assert set(stale) == {0, 1}
        import os

        assert not os.path.exists(f"{idx.path}/vectors/seg_id=0")
        assert os.path.exists(f"{idx.path}/vectors/seg_id=3")
        # index still searchable after gc: 37 compacted + 20 in ACTIVE seg2
        assert idx.vectors().count() == 57

    def test_writing_segment_invisible(self, spark, mut):
        # SearchIgnoresWritingSegmentTest.java:61-91
        idx, data = mut
        idx.update_segment_states({3: {"state": WRITING}})
        qdf = _queries_df(spark, data, [60])
        res = idx.search(qdf, k=50).collect()
        seg3_gids = {r["gid"] for r in idx.vectors(states=(WRITING,)).filter(F.col("seg_id") == 3).collect()}
        assert all(r["gid"] not in seg3_gids for r in res)
        idx.update_segment_states({3: {"state": SEALED}})


def test_search_of_a_segment_built_without_live_rows(spark, tmp_path_factory):
    """A segment whose rows were all deleted before its build seals
    without writing the artifacts table; a PQ search and the exhaustive
    search_join then return no rows instead of failing on the missing
    table."""
    idx = VectorIndex.create(
        spark, str(tmp_path_factory.mktemp("vsempty")),
        IndexConfig(name="e", dimension=4, max_segment_size=10, pq_m=2, pq_k=4),
    )
    idx.add(
        spark.createDataFrame([(i, [float(i)] * 4) for i in range(10)], "row_id long, embedding array<float>"),
        order_col="row_id",
    )
    idx.delete(list(range(10)))
    assert idx.build() == [0]
    q = spark.createDataFrame([(0, [1.0] * 4)], "query_id long, embedding array<float>")
    assert idx.search(q, 3).collect() == []
    assert idx.search_join(q, 3).collect() == []


def test_vacuum_fully_deleted_segment_reclaims_disk(spark, tmp_path_factory):
    """Vacuum of a segment whose rows are ALL deleted must physically
    remove the partition directories (dynamic overwrite writes nothing
    for an empty DataFrame, so the files would otherwise leak forever
    while the ratio gate resets and never re-fires)."""
    import os

    cap = 50
    path = str(tmp_path_factory.mktemp("vsfulldel"))
    cfg = IndexConfig(
        name="fd", dimension=DIM, max_segment_size=cap, pq_m=4, pq_k=16,
        graph_degree=8, graph_build_breadth=16, graph_alpha=1.2, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, 80, DIM, seed=5)
    idx.add(df, order_col="row_id")  # seg0 full, seg1 ACTIVE @ 30
    idx.build()
    assert idx.delete(list(range(cap))) == cap  # every row of seg 0
    assert idx.vacuum(0) is True
    for sub in ("vectors", "codes", "adjacency"):
        assert not os.path.exists(f"{path}/{sub}/seg_id=0"), sub
    seg0 = [r for r in idx.segments().collect() if r["seg_id"] == 0][0]
    assert seg0["count"] == 0 and seg0["deleted_count"] == 0
    # index still searchable; only seg1 rows surface
    qdf = _queries_df(spark, data, [10])
    res = idx.search(qdf, k=5, params=SearchParams(mode="BRUTE")).collect()
    assert res and all(r["gid"] >= cap for r in res)


def test_ingest_after_compaction_never_collides(spark, tmp_path_factory):
    """Ingest and compaction allocate segment ids from the same
    max_seg_id counter, so post-compaction ingest can NEVER append into
    a compacted destination (the reference's single maxSegmentId
    invariant, tasks/MaintenanceService.java:248-417). Repro of the
    gid//cap collision: 300 rows → segs 0-2, compact([0,1]) → dest 3,
    add 100 more — under gid-derived assignment those rows would land
    in seg 3 with colliding vec_ids."""
    cap = 100
    path = str(tmp_path_factory.mktemp("vscollide"))
    cfg = IndexConfig(
        name="c", dimension=DIM, max_segment_size=cap, pq_m=4, pq_k=16,
        graph_degree=8, graph_build_breadth=16, graph_alpha=1.2, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, 300, DIM, seed=7)
    idx.add(df, order_col="row_id")
    idx.build()
    # fragment segs 0/1 so the compaction budget (0.8*cap) fits them
    idx.delete(list(range(0, 70)) + list(range(100, 170)))
    dest = idx.compact([0, 1])
    assert dest == 3
    first = idx.add(df.select("row_id", "embedding"), order_col="row_id")
    assert first == 300
    # new rows went to a FRESH segment (4), not the compacted dest (3)
    segs = {r["seg_id"]: r for r in idx.segments().collect()}
    assert sorted(segs) == [2, 3, 4, 5, 6]
    assert segs[3]["count"] == 60  # compacted live rows, untouched
    assert segs[4]["count"] == cap and segs[5]["count"] == cap and segs[6]["count"] == cap
    # no duplicate (seg_id, vec_id) anywhere — the corrupted-join repro
    dup = (
        idx.vectors(states=(ACTIVE, PENDING, SEALED, COMPACTING, WRITING))
        .groupBy("seg_id", "vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # and gids are globally unique too
    assert idx.vectors().select("gid").distinct().count() == idx.vectors().count()
    # search across old + new rows still exact
    qdf = _queries_df(spark, data, [200])
    res = idx.search(qdf, k=2, params=SearchParams(mode="BRUTE")).collect()
    assert {r["gid"] for r in res} == {200, 500}  # row 200 ingested twice
    assert all(abs(r["distance"]) < 1e-5 for r in res)


def test_ingest_resumes_active_segment_after_compaction(spark, tmp_path_factory):
    """A partially-filled ACTIVE segment keeps filling at its high-water
    mark across an unrelated compaction; overflow rotates it to PENDING
    and continues in a fresh segment from the shared counter."""
    cap = 50
    path = str(tmp_path_factory.mktemp("vsresume"))
    cfg = IndexConfig(
        name="r", dimension=DIM, max_segment_size=cap, pq_m=4, pq_k=16,
        graph_degree=8, graph_build_breadth=16, graph_alpha=1.2, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, _ = _gaussian_df(spark, 120, DIM, seed=11)
    idx.add(df, order_col="row_id")  # segs 0,1 full; seg 2 ACTIVE @ 20
    idx.build()
    idx.delete(list(range(0, 40)) + list(range(50, 80)))
    dest = idx.compact([0, 1])
    assert dest == 3
    df2, _ = _gaussian_df(spark, 50, DIM, seed=12)
    idx.add(df2, order_col="row_id")
    segs = {r["seg_id"]: r for r in idx.segments().collect()}
    # 30 rows topped up seg 2 (20→50, rotated PENDING); 20 went to seg 4
    assert segs[2]["count"] == cap and segs[2]["state"] == PENDING
    assert segs[4]["count"] == 20 and segs[4]["state"] == ACTIVE
    # vec_ids in seg 2 are dense 0..49 (high-water append, no collision)
    vids = sorted(
        r["vec_id"]
        for r in idx.vectors().filter(F.col("seg_id") == 2).select("vec_id").collect()
    )
    assert vids == list(range(cap))


def test_payload_roundtrip(spark, tmp_path_factory):
    """Payloads attach to search results when ingested (and has_payload
    gates the attach join: a fresh payload-free index reports False)."""
    path = str(tmp_path_factory.mktemp("vspay"))
    idx = VectorIndex.create(
        spark, path, IndexConfig(name="p", dimension=2, max_segment_size=10, pq_m=2, pq_k=4)
    )
    assert idx.has_payload is False
    df = spark.createDataFrame(
        [(i, [float(i), 0.0], f"pl-{i}".encode()) for i in range(5)],
        "row_id long, embedding array<float>, payload binary",
    )
    idx.add(df, order_col="row_id", payload_col="payload")
    assert idx.has_payload is True
    reopened = VectorIndex.open(spark, path)
    assert reopened.has_payload is True
    qdf = spark.createDataFrame([(0, [2.0, 0.0])], "query_id long, embedding array<float>")
    top = idx.search(qdf, k=1).collect()
    assert len(top) == 1 and bytes(top[0]["payload"]) == b"pl-2"


def test_no_payload_results_are_null(spark, built_index):
    idx, data, _ = built_index
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in data[0]])], "query_id long, embedding array<float>"
    )
    rows = idx.search(qdf, k=3).collect()
    assert rows and all(r["payload"] is None for r in rows)


def test_graph_traversal_mode_recall(spark, built_index):
    """mode=GRAPH (G5 frontier traversal over the Vamana graph) reaches
    the same ≥0.9 recall gate as the default PQ-scan path."""
    idx, data, _ = built_index
    qids = list(range(0, N, N // 15))[:15]
    qdf = _queries_df(spark, data, qids)
    graph = idx.search(qdf, k=10, params=SearchParams(mode="GRAPH"))
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE"))
    got = {}
    for r in graph.collect():
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in got.get(r["query_id"], set())
    assert total == 15 * 10
    assert hits / total >= 0.9
    # self-query top-1 through the traversal path
    top1 = idx.search(_queries_df(spark, data, [42]), k=1, params=SearchParams(mode="GRAPH")).collect()
    assert top1[0]["gid"] == 42


def test_graph_random_pivots_recall(spark, built_index):
    """seed_strategy=RANDOM_PIVOTS (fdb/FdbVectorIndex.java:801-812):
    traversal seeded from deterministic pseudo-random entry points —
    no PQ information — still reaches the recall gate, proving the
    graph itself (not the seeds) carries the search."""
    idx, data, _ = built_index
    qids = list(range(0, N, N // 15))[:15]
    qdf = _queries_df(spark, data, qids)
    graph = idx.search(
        qdf,
        k=10,
        params=SearchParams(mode="GRAPH", seed_strategy="RANDOM_PIVOTS", pivots=8),
    )
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE"))
    got = {}
    for r in graph.collect():
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in got.get(r["query_id"], set())
    assert total == 15 * 10
    assert hits / total >= 0.9
    # determinism: same params → identical result set
    again = idx.search(
        qdf,
        k=10,
        params=SearchParams(mode="GRAPH", seed_strategy="RANDOM_PIVOTS", pivots=8),
    )
    got2 = {}
    for r in again.collect():
        got2.setdefault(r["query_id"], set()).add(r["gid"])
    assert got == got2


def test_graph_params_honored(spark, built_index):
    """beam / max_iters / max_explore are honored: a zero-iteration
    traversal returns only re-ranked seeds (beam-bounded), and a tiny
    max_explore caps expansion without breaking the k contract."""
    idx, data, _ = built_index
    qdf = _queries_df(spark, data, [0, 77])
    # max_iters=0 → candidates == seeds == beam per (query, segment)
    res0 = idx.search(
        qdf, k=10, params=SearchParams(mode="GRAPH", beam=3, max_iters=0)
    )
    per_q = {}
    for r in res0.collect():
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    # 4 segments × beam 3 = 12 candidates → k=10 rows survive the merge
    assert all(n == 10 for n in per_q.values())
    # max_explore=1 stops after the first expansion round
    res1 = idx.search(
        qdf,
        k=10,
        params=SearchParams(mode="GRAPH", max_explore=1, max_iters=6),
    )
    assert all(
        n == 10
        for n in _count_by(res1.collect(), "query_id").values()
    )


def test_graph_seeds_only_returns_beam_per_segment(spark, built_index):
    """max_iters=0 means seeds only, on both entry points: 4 segments ×
    beam 2 PQ seeds = 8 candidates, so k=10 returns exactly 8 rows per
    query (ef=20 stays below the 50-row segments, so no degenerate
    all-rows pool)."""
    idx, data, _ = built_index
    qdf = _queries_df(spark, data, [0, 77, 150])
    params = SearchParams(mode="GRAPH", ef=20, beam=2, max_iters=0)
    for run in (idx.search, idx.search_join):
        rows = run(qdf, k=10, params=params).collect()
        assert _count_by(rows, "query_id") == {0: 8, 77: 8, 150: 8}, run.__name__


def test_search_params_rejects_unknown_mode_and_seed_strategy():
    """A misspelled mode or seed strategy fails at construction instead
    of silently running another plan."""
    with pytest.raises(ValueError, match="mode"):
        SearchParams(mode="GARPH")
    with pytest.raises(ValueError, match="seed_strategy"):
        SearchParams(mode="GRAPH", seed_strategy="RANDOM")
    for mode in ("AUTO", "BRUTE", "PQ", "GRAPH", "BEAM"):
        SearchParams(mode=mode)
    SearchParams(seed_strategy="RANDOM_PIVOTS")


def _count_by(rows, key):
    out = {}
    for r in rows:
        out[r[key]] = out.get(r[key], 0) + 1
    return out


def test_heavy_recall_n1000(spark, tmp_path_factory):
    """Heavy-mode recall gate (api/VectorIndexTest.java:505-563): n=1000,
    seed=1234, maxSegmentSize=200, 100 self-queries, recall@10 ≥ 0.9."""
    path = str(tmp_path_factory.mktemp("vsheavy"))
    cfg = IndexConfig(
        name="h", dimension=DIM, max_segment_size=200, pq_m=4, pq_k=16,
        graph_degree=16, graph_build_breadth=32, graph_alpha=1.2, oversample=4, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, 1000, DIM, seed=1234)
    idx.add(df, order_col="row_id")
    assert idx.build() == [0, 1, 2, 3, 4]
    qids = list(range(0, 1000, 10))[:100]
    qdf = _queries_df(spark, data, qids)
    approx = idx.search(qdf, k=10)
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE"))
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in got[r["query_id"]]
    assert total == 100 * 10
    assert hits / total >= 0.9
    # GRAPH traversal (best-list-survivor frontier) holds the same gate
    # at heavy scale (25 self-queries keep runtime bounded)
    g_qdf = _queries_df(spark, data, qids[:25])
    graph = idx.search(g_qdf, k=10, params=SearchParams(mode="GRAPH"))
    g_got = {}
    for r in graph.collect():
        g_got.setdefault(r["query_id"], set()).add(r["gid"])
    g_hits = g_total = 0
    for r in exact.collect():
        if r["query_id"] not in g_got:
            continue
        g_total += 1
        g_hits += r["gid"] in g_got[r["query_id"]]
    assert g_total == 25 * 10
    assert g_hits / g_total >= 0.9


# ---------------------------------------------------------------------------
# Cosine-metric sealed index, end-to-end (api/VectorIndexTest.java:211-258
# shape with metric=COSINE; normalize-on-build analog of
# fdb/FdbVectorIndex.java:1006-1013 normalizeOnRead).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def cosine_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vscos"))
    cfg = IndexConfig(
        name="c",
        dimension=DIM,
        metric=Metric.COSINE,
        max_segment_size=CAP,
        pq_m=4,
        pq_k=16,
        graph_degree=16,
        graph_build_breadth=32,
        graph_alpha=1.2,
        oversample=4,
        seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    # deliberately UNnormalized gaussian data: norms vary 3×, so the
    # recall gate fails unless build normalizes before PQ train/encode
    df, data = _gaussian_df(spark, N, DIM, seed=7)
    idx.add(df.repartition(4), order_col="row_id")
    sealed = idx.build()
    return idx, data, sealed


def _recall(approx_rows, exact_rows):
    got = {}
    for r in approx_rows:
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact_rows:
        total += 1
        hits += r["gid"] in got.get(r["query_id"], set())
    return hits, total


def test_cosine_sealed_recall_at_10(spark, cosine_index):
    idx, data, sealed = cosine_index
    assert sealed == [0, 1, 2, 3]
    qids = list(range(0, N, N // 30))[:30]
    qdf = _queries_df(spark, data, qids)
    approx = idx.search(qdf, k=10).collect()
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE")).collect()
    hits, total = _recall(approx, exact)
    assert total == 30 * 10
    assert hits / total >= 0.9


def test_cosine_search_top1_is_self_with_score_convention(spark, cosine_index):
    idx, data, _ = cosine_index
    res = idx.search(_queries_df(spark, data, [3, 88, 171]), k=1).collect()
    assert {r["query_id"]: r["gid"] for r in res} == {3: 3, 88: 88, 171: 171}
    for r in res:
        # COSINE: distance = 1−sim ∈ [0, 2], score = sim, and the clamp
        # guarantees distance is never −0.0 (C6 convention)
        assert 0.0 <= r["distance"] < 1e-5
        import math

        assert math.copysign(1.0, r["distance"]) == 1.0
        assert abs(r["score"] - (1.0 - r["distance"])) < 1e-12


def test_cosine_scale_invariance(spark, cosine_index):
    """Cosine ranks by angle only: querying with 10× the self-vector
    must return the same neighbor set as the unit-scale query."""
    idx, data, _ = cosine_index
    q1 = _queries_df(spark, data, [17])
    q10 = spark.createDataFrame(
        [(17, (data[17] * 10.0).tolist())], "query_id long, embedding array<float>"
    )
    a = sorted(r["gid"] for r in idx.search(q1, k=10).collect())
    b = sorted(r["gid"] for r in idx.search(q10, k=10).collect())
    assert a == b


def test_cosine_graph_mode_recall(spark, cosine_index):
    idx, data, _ = cosine_index
    qids = list(range(0, N, N // 15))[:15]
    qdf = _queries_df(spark, data, qids)
    graph = idx.search(qdf, k=10, params=SearchParams(mode="GRAPH")).collect()
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE")).collect()
    hits, total = _recall(graph, exact)
    assert total == 15 * 10
    assert hits / total >= 0.9


def test_graph_search_jobs_independent_of_max_iters(spark, built_index):
    """GRAPH traversal runs inside the cogroup task: the number of
    Spark jobs does not grow with the hop bound."""
    idx, data, sealed = built_index
    qdf = _queries_df(spark, data, [0, 99])
    counts = {}
    for hops in (1, 6):
        params = SearchParams(mode="GRAPH", ef=20, max_iters=hops)
        rows, counts[hops] = jobs_launched(
            spark, lambda: idx.search(qdf, k=10, params=params).collect()
        )
        assert len(rows) == 2 * 10
    assert counts[1] == counts[6] > 0, counts


def test_create_or_open_round_trip(spark, tmp_path):
    """api/VectorIndex.java:43-49 createOrOpen parity: first call
    creates, second opens with state intact, mismatched config raises."""
    import pytest as _pytest

    from vectorsearch_spark.config import IndexConfig
    from vectorsearch_spark.index import VectorIndex

    path = str(tmp_path / "coo")
    cfg = IndexConfig(name="coo", dimension=8, max_segment_size=10)
    idx = VectorIndex.create_or_open(spark, path, cfg)
    emb = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    idx.add(emb, order_col="vec_id")

    again = VectorIndex.create_or_open(spark, path, cfg)
    assert again.next_gid == 6  # opened, not re-created
    with _pytest.raises(ValueError):
        VectorIndex.create_or_open(
            spark, path, IndexConfig(name="coo", dimension=16, max_segment_size=10)
        )


def test_retired_normalize_on_read_config_key(spark, tmp_path):
    """normalize_on_read lives on SearchParams only
    (api/SearchParams.java:16): IndexConfig rejects it, and an index
    whose meta.json still carries the retired key opens and searches."""
    import json

    with pytest.raises(TypeError):
        IndexConfig(name="r", dimension=4, normalize_on_read=True)

    path = str(tmp_path / "retired")
    cfg = IndexConfig(name="r", dimension=4, max_segment_size=10, pq_m=2, pq_k=4)
    idx = VectorIndex.create(spark, path, cfg)
    idx.add(
        spark.createDataFrame(
            [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(6)],
            "vec_id long, embedding array<float>",
        ),
        order_col="vec_id",
    )
    with open(idx.meta_path) as f:
        meta = json.load(f)
    stored = json.loads(meta["config_json"])
    stored["normalize_on_read"] = True
    meta["config_json"] = json.dumps(stored, sort_keys=True)
    with open(idx.meta_path, "w") as f:
        json.dump(meta, f)

    reopened = VectorIndex.open(spark, path, cfg)
    assert reopened.config == cfg
    q = spark.createDataFrame(
        [(0, [3.0, 0.0, 1.0, 2.0])], "query_id long, embedding array<float>"
    )
    assert [r["gid"] for r in reopened.search(q, k=1).collect()] == [3]


def test_open_refuses_an_older_layout(spark, tmp_path):
    """A v2 index kept its registry in a second file, segments.json;
    this build reads only the v3 single-file catalog and asks for a
    rebuild instead of guessing."""
    import json

    path = str(tmp_path / "v2")
    idx = VectorIndex.create(spark, path, IndexConfig(name="v", dimension=4, pq_m=2, pq_k=4))
    with open(idx.meta_path) as f:
        meta = json.load(f)
    meta["layout"] = 2
    with open(idx.meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild the index"):
        VectorIndex.open(spark, path)


# ---------------------------------------------------------------------------
# search_join: distributed query-side search (queries never collected)
# ---------------------------------------------------------------------------

def test_search_join_matches_brute(spark, built_index):
    """search_join ≡ mode=BRUTE search on the same batch, and the query
    side reaches the executors as a cogroup input — never a driver
    collect: building the result launches no Spark job."""
    idx, data, _ = built_index
    qids = list(range(0, N, 3))
    qdf = _queries_df(spark, data, qids)
    got, jobs = jobs_launched(spark, lambda: idx.search_join(qdf, k=5))
    assert jobs == 0
    exact = idx.search(qdf, k=5, params=SearchParams(mode="BRUTE"))

    def key(rows):
        return sorted(
            (r["query_id"], r["gid"], round(r["distance"], 9), r["rank"], r["score"] is not None)
            for r in rows
        )

    assert key(got.collect()) == key(exact.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_search_join_derived_query_df_never_materialized(spark, built_index):
    """A query DF built purely by Spark-side transformation (range →
    join) — the shape of a million-query batch that CANNOT be collected
    — runs end-to-end and returns exactly k rows per query with the
    self-match at rank 1."""
    idx, data, _ = built_index
    vec = idx.vectors().select(F.col("gid"), "embedding")
    q = (
        spark.range(1000)
        .select(F.col("id").alias("query_id"), (F.col("id") % N).alias("gid"))
        .join(vec, "gid")
        .select("query_id", "embedding")
    )
    res = idx.search_join(q, k=3)
    rows = res.collect()
    assert len(rows) == 1000 * 3
    top1 = {r["query_id"]: r["gid"] for r in rows if r["rank"] == 1}
    assert all(top1[qid] == qid % N for qid in range(0, 1000, 97))


def test_search_join_graph_exhaustive_twin_equals_brute(spark, built_index):
    """Distributed GRAPH mode with pivots ≥ segment size and ef ≥
    segment size: every node is a seed, the best list keeps everything,
    so the traversal degenerates to the full ranking and the exact
    re-rank must equal the exhaustive plan — the cogroup traversal's
    artifact reassembly (codes+adjacency from one kind-split scan),
    distance path, and the shared re-rank tail are all exact-checked."""
    idx, data, _ = built_index
    qids = list(range(0, N, 5))
    qdf = _queries_df(spark, data, qids)
    g = idx.search_join(
        qdf, k=5, params=SearchParams(mode="GRAPH", ef=CAP, pivots=10**6)
    )
    brute = idx.search_join(qdf, k=5, params=SearchParams(mode="BRUTE"))

    def key(rows):
        return sorted(
            (r["query_id"], r["gid"], round(r["distance"], 9), r["rank"]) for r in rows
        )

    assert key(g.collect()) == key(brute.collect())


def test_search_join_graph_default_recall(spark, built_index):
    """Distributed GRAPH at real approximate settings (pivots=8,
    default ef, best-first stop rule): recall@10 ≥ 0.9 against exact,
    the reference's functional gate (api/VectorIndexTest.java:211-258),
    and the query DF is never collected (transformation-built)."""
    idx, data, _ = built_index
    qids = list(range(0, N, N // 30))[:30]
    qdf = _queries_df(spark, data, qids)
    approx = idx.search_join(qdf, k=10, params=SearchParams(mode="GRAPH"))
    exact = idx.search_join(qdf, k=10, params=SearchParams(mode="BRUTE"))
    got: dict[int, set] = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in got.get(r["query_id"], set())
    assert total == 30 * 10
    assert hits / total >= 0.9, hits / total


def test_search_join_pq_exhaustive_twin_equals_brute(spark, built_index):
    """Distributed PQ mode with ef ≥ segment size: the cogroup
    candidate pool is every row of every sealed segment, so the exact
    re-rank sees everything and the result must equal the exhaustive
    plan — every stage of the distributed PQ path (bucketed cogroup,
    LUT distances, re-rank join, per-seg cap, merge) is exact-checked."""
    idx, data, _ = built_index
    qids = list(range(0, N, 5))
    qdf = _queries_df(spark, data, qids)
    pq = idx.search_join(qdf, k=5, params=SearchParams(mode="PQ", ef=CAP))
    brute = idx.search_join(qdf, k=5, params=SearchParams(mode="BRUTE"))

    def key(rows):
        return sorted(
            (r["query_id"], r["gid"], round(r["distance"], 9), r["rank"]) for r in rows
        )

    assert key(pq.collect()) == key(brute.collect())


def test_search_join_pq_mixed_states_exact_twin(spark, tmp_path_factory):
    """PQ-mode search_join over a MIXED index (one SEALED segment via
    the cogroup path, one ACTIVE segment via the exhaustive brute part)
    must merge both correctly — ef=cap makes it exactly BRUTE."""
    path = str(tmp_path_factory.mktemp("vsmix"))
    cfg = IndexConfig(
        name="mix", dimension=DIM, max_segment_size=CAP, pq_m=4, pq_k=16,
        graph_degree=8, graph_build_breadth=16, oversample=4, seed=7,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, 80, DIM, seed=11)  # 50 + 30: segs 0, 1
    idx.add(df, order_col="row_id")
    idx.build([0])  # seal only segment 0; segment 1 stays brute-searchable
    states = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
    assert states[0] == "SEALED" and states[1] != "SEALED"

    qdf = _queries_df(spark, data, [0, 20, 55, 79])
    pq = idx.search_join(qdf, k=4, params=SearchParams(mode="PQ", ef=CAP))
    brute = idx.search_join(qdf, k=4, params=SearchParams(mode="BRUTE"))

    def key(rows):
        return sorted(
            (r["query_id"], r["gid"], round(r["distance"], 9), r["rank"]) for r in rows
        )

    rows = pq.collect()
    assert key(rows) == key(brute.collect())
    # both sides of the gid space represented (top1 self-match each)
    top1 = {r["query_id"]: r["gid"] for r in rows if r["rank"] == 1}
    assert top1 == {0: 0, 20: 20, 55: 55, 79: 79}

    # one cached side holds both segments: one cogroup per plan, and a
    # second search of the unchanged handle reads no index file again
    search_pq = idx.search(qdf, k=4, params=SearchParams(mode="PQ", ef=CAP))
    assert key(search_pq.collect()) == key(rows)
    for res in (pq, search_pq):
        nodes = _plan_nodes(res._jdf.queryExecution().executedPlan())
        assert [n.nodeName() for n in nodes].count("FlatMapCoGroupsInPandas") == 1
    again = idx.search(qdf, k=4, params=SearchParams(mode="PQ", ef=CAP))
    assert key(again.collect()) == key(rows)
    tables = [p.split("://")[-1] for p in (idx.vectors_path, idx.artifacts_path)]
    assert [
        n.simpleString(400)
        for n in _plan_nodes(again._jdf.queryExecution().executedPlan())
        if n.nodeName().startswith("Scan") and any(t in n.simpleString(400) for t in tables)
    ] == []


def test_search_join_pq_heavy_n2000_q500(spark, tmp_path_factory):
    """Heavier distributed-search gate: 2000 vectors over 8 sealed
    segments, 500 DataFrame queries through the PQ cogroup — recall@5
    ≥ 0.9 vs the exhaustive plan, exactly k rows per query, and the
    exhaustive plan's top-1 self-match on every query. Evidence the
    replicated-cogroup plan holds beyond toy sizes."""
    path = str(tmp_path_factory.mktemp("vsheavy_join"))
    n, cap = 2000, 250
    cfg = IndexConfig(
        name="hj", dimension=16, max_segment_size=cap, pq_m=8, pq_k=32,
        graph_degree=8, graph_build_breadth=16, oversample=4, seed=3,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, n, 16, seed=23)
    idx.add(df.repartition(8), order_col="row_id")
    idx.build()

    q = (
        spark.range(500)
        .select(F.col("id").alias("query_id"), (F.col("id") * 4).alias("gid"))
        .join(idx.vectors().select("gid", "embedding"), "gid")
        .select("query_id", "embedding")
    )
    approx = idx.search_join(q, k=5, params=SearchParams(mode="PQ"))
    exact = idx.search_join(q, k=5, params=SearchParams(mode="BRUTE"))
    a_rows, e_rows = approx.collect(), exact.collect()
    assert len(a_rows) == 500 * 5 and len(e_rows) == 500 * 5
    top1 = {r["query_id"]: r["gid"] for r in e_rows if r["rank"] == 1}
    assert all(top1[qid] == qid * 4 for qid in range(0, 500, 61))
    got = {}
    for r in a_rows:
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = sum(r["gid"] in got[r["query_id"]] for r in e_rows)
    assert hits / len(e_rows) >= 0.9


def test_search_join_pq_default_recall(spark, built_index):
    """Default-ef distributed PQ search: recall@10 ≥ 0.9 vs exhaustive
    (the same bar as the collected sealed path)."""
    idx, data, _ = built_index
    qids = list(range(0, N, N // 30))[:30]
    qdf = _queries_df(spark, data, qids)
    approx = idx.search_join(qdf, k=10, params=SearchParams(mode="PQ"))
    exact = idx.search_join(qdf, k=10, params=SearchParams(mode="BRUTE"))
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in got[r["query_id"]]
    assert total == 30 * 10
    assert hits / total >= 0.9


# ---------------------------------------------------------------------------
# Crash recovery: writer dies mid-maintenance, recover() restores, rerun
# converges (the batch analog of the reference's idempotent task re-claim,
# tasks/SegmentBuildWorker.java:49-53)
# ---------------------------------------------------------------------------


def _fresh_idx(spark, tmp_path_factory, n=120):
    path = str(tmp_path_factory.mktemp("vscrash"))
    cfg = IndexConfig(
        name="c", dimension=DIM, max_segment_size=CAP, pq_m=4, pq_k=16,
        graph_degree=8, graph_build_breadth=16, graph_alpha=1.2, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, n, DIM, seed=77)
    idx.add(df, order_col="row_id")
    idx.build()
    return idx, data


def test_delete_crash_mid_swap_recover_rerun(spark, tmp_path_factory):
    """Kill the delete between the vectors-partition swap and the
    registry counter update: the tombstones are already physical (the
    swap rolls FORWARD), so recover() must RECONCILE the registry
    counters from disk truth — a bare rerun would see the rows as
    already-deleted and leave the counters drifted forever (the bug
    this test originally exposed). After recover + rerun the state is
    identical to a clean run's."""
    from vectorsearch_spark import staging

    idx, _ = _fresh_idx(spark, tmp_path_factory)
    doomed = list(range(10, 40))  # all within seg 0 (CAP=50)

    class Boom(RuntimeError):
        pass

    def hook(stage, detail):
        if stage == "swapped":
            raise Boom(f"injected at {stage}:{detail}")

    staging._FAULT = hook
    try:
        with pytest.raises(Boom):
            idx.delete(doomed)
    finally:
        staging._FAULT = None

    # crashed state: tombstones physical, counters stale
    phys = idx.vectors().filter(F.col("deleted")).count()
    assert phys == len(doomed)
    segs = {r["seg_id"]: r for r in idx.segments().collect()}
    assert sum(r["deleted_count"] for r in segs.values()) == 0

    acts = idx.recover()
    assert acts["counters_fixed"] == [0]
    segs = {r["seg_id"]: r for r in idx.segments().collect()}
    assert segs[0]["deleted_count"] == len(doomed)
    assert segs[0]["count"] == CAP - len(doomed)

    # rerun is a no-op (tombstones already applied), state == clean run
    assert idx.delete(doomed) == 0
    segs = {r["seg_id"]: r for r in idx.segments().collect()}
    assert sum(r["deleted_count"] for r in segs.values()) == len(doomed)
    live = idx.vectors().filter(~F.col("deleted")).count()
    assert live == 120 - len(doomed)


def test_build_crash_mid_swap_recover_rebuild(spark, tmp_path_factory):
    """Kill a build inside its artifacts swap, after a live partition
    moved to its backup: recover() restores the backup, and the rebuild
    gives the same search result as a clean build. The first build
    writes artifacts without sealing, so the crashed build re-writes
    partitions that already exist (a build that died before its seal
    and is re-run)."""
    import os

    from vectorsearch_spark import staging

    clean, data = _fresh_idx(spark, tmp_path_factory)
    qdf = _queries_df(spark, data, [3, 60, 110])

    def result(index):
        return sorted(
            (r["query_id"], r["gid"], r["distance"])
            for r in index.search(qdf, k=5).collect()
        )

    expected = result(clean)
    idx = VectorIndex.create(spark, str(tmp_path_factory.mktemp("vsbuild")), clean.config)
    idx.add(_gaussian_df(spark, 120, DIM, seed=77)[0], order_col="row_id")
    assert idx.build(seal=False) == [0, 1]

    class Boom(RuntimeError):
        pass

    def hook(stage, detail):
        if stage == "backed_up":
            raise Boom(f"injected at {stage}:{detail}")

    staging._FAULT = hook
    try:
        with pytest.raises(Boom):
            idx.build()
    finally:
        staging._FAULT = None
    names = os.listdir(idx.artifacts_path)
    assert ".swap_old_seg_id=0" in names and "seg_id=0" not in names

    acts = idx.recover()
    assert "restored:seg_id=0" in acts["swaps"]
    assert idx.build() == [0, 1]
    assert result(idx) == expected


def test_compact_crash_before_registry_swap_recover_rerun(spark, tmp_path_factory):
    """Kill compaction between the data copy/build and the final
    registry swap: the half-built destination must stay invisible
    (WRITING), search results must be unchanged, and recover() + rerun
    must land the identical final state as a clean compaction."""
    idx, data = _fresh_idx(spark, tmp_path_factory)
    idx.delete(list(range(0, 20)))
    idx.vacuum(0, force=True)
    sources = sorted(idx.registered_seg_ids((SEALED,)))[:2]
    qdf = _queries_df(spark, data, [50, 90])
    before = {
        (r["query_id"], r["gid"]) for r in idx.search(qdf, k=5).collect()
    }

    real = VectorIndex.update_segment_states
    class Boom(RuntimeError):
        pass

    def failing(self, updates, **fields):
        # the final swap is the update containing a SEALED dest +
        # None-dropped sources — kill exactly there
        if any(u is None for u in updates.values()):
            raise Boom("injected before registry swap")
        return real(self, updates, **fields)

    VectorIndex.update_segment_states = failing
    try:
        with pytest.raises(Boom):
            idx.compact(sources)
    finally:
        VectorIndex.update_segment_states = real

    # crashed state: sources COMPACTING (searchable), dest WRITING
    st = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
    assert [s for s in sources if st[s] == COMPACTING] == sources
    dest_writing = [s for s, v in st.items() if v == WRITING]
    assert len(dest_writing) == 1
    mid = {
        (r["query_id"], r["gid"]) for r in idx.search(qdf, k=5).collect()
    }
    assert mid == before  # WRITING invisible, COMPACTING searchable

    acts = idx.recover()
    assert acts["writing_dropped"] == dest_writing
    assert sorted(acts["compacting_reset"]) == sources
    st = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
    assert all(st[s] == SEALED for s in sources)
    # physical GC removed the orphaned dest partition dirs
    import os as _os

    assert not _os.path.exists(f"{idx.vectors_path}/seg_id={dest_writing[0]}")

    new_seg = idx.compact(sources)
    st = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
    assert st[new_seg] == SEALED and all(s not in st for s in sources)
    after = {
        (r["query_id"], r["gid"]) for r in idx.search(qdf, k=5).collect()
    }
    assert after == before  # gid-stable across the crashed+retried move


def test_add_crash_before_catalog_commit_recover(spark, tmp_path, monkeypatch):
    """Kill a batch add after its parquet append, at its catalog write:
    a restarted writer's recover() scrubs the uncommitted rows (gid at
    or above the committed next_gid) and keeps the counters equal to the
    rows, so the next add allocates dense, unique gids and vec_ids and
    leaves exactly one ACTIVE segment."""
    from vectorsearch_spark.index import catalog

    path = str(tmp_path / "addcrash")
    cfg = IndexConfig(name="ac", dimension=2, max_segment_size=10, pq_m=2, pq_k=4)
    schema = "row_id long, embedding array<float>"
    idx = VectorIndex.create(spark, path, cfg)
    idx.add(spark.createDataFrame([(i, [float(i), 0.0]) for i in range(15)], schema),
            order_col="row_id")

    real = catalog.write_file_atomic

    def failing(dir_path, name, data):
        if name == "meta.json":
            raise RuntimeError("injected at the catalog write")
        return real(dir_path, name, data)

    monkeypatch.setattr(catalog, "write_file_atomic", failing)
    with pytest.raises(RuntimeError, match="injected"):
        idx.add(spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(15, 22)], schema), order_col="row_id")
    monkeypatch.setattr(catalog, "write_file_atomic", real)
    assert spark.read.parquet(f"{path}/vectors").count() == 22  # 7 orphans on disk

    idx2 = VectorIndex.open(spark, path)
    acts = idx2.recover()
    raw = spark.read.parquet(f"{path}/vectors").collect()
    assert sorted(r["gid"] for r in raw) == list(range(15))
    assert acts["orphans_scrubbed"] == 7
    per_seg: dict = {}
    for r in raw:
        per_seg[r["seg_id"]] = per_seg.get(r["seg_id"], 0) + 1
    assert {r["seg_id"]: r["count"] for r in idx2._segment_rows()} == per_seg

    idx2.add(spark.createDataFrame(
        [(i, [float(i), 2.0]) for i in range(22, 26)], schema), order_col="row_id")
    rows = idx2.vectors().collect()
    assert sorted(r["gid"] for r in rows) == list(range(19))
    assert len({(r["seg_id"], r["vec_id"]) for r in rows}) == len(rows)
    states = [r["state"] for r in idx2._segment_rows()]
    assert states.count(ACTIVE) == 1


def test_search_join_graph_default_ef_recall_8_segments(spark, tmp_path_factory):
    """Best-first COGROUP path at DEFAULT ef over ≥ 8 sealed segments
    (the non-degenerate config: small per-segment graphs, real beam
    pruning). Gate: recall@10 ≥ 0.9 vs the exact search_join — keeps
    the distributed graph traversal honest as segment count grows
    (fdb/FdbVectorIndex.java:686-694 semantics, batch re-expression)."""
    path = str(tmp_path_factory.mktemp("vsg8"))
    cfg = IndexConfig(
        name="g8", dimension=DIM, max_segment_size=125, pq_m=4, pq_k=16,
        graph_degree=16, graph_build_breadth=32, graph_alpha=1.2,
        oversample=4, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, 1000, DIM, seed=77)
    idx.add(df, order_col="row_id")
    built = idx.build()
    assert len(built) == 8, built
    qids = list(range(0, 1000, 40))  # 25 self-queries
    qdf = _queries_df(spark, data, qids)
    exact = idx.search_join(qdf, k=10, params=SearchParams(mode="BRUTE")).collect()
    # the default ef clamps to the 125-row segments; ef=30 prunes
    for params in (SearchParams(mode="GRAPH"), SearchParams(mode="GRAPH", ef=30)):
        approx = idx.search_join(qdf, k=10, params=params)
        got = {}
        for r in approx.collect():
            got.setdefault(r["query_id"], set()).add(r["gid"])
        hits = total = 0
        for r in exact:
            total += 1
            hits += r["gid"] in got.get(r["query_id"], set())
        assert total == 25 * 10
        assert hits / total >= 0.9, (params, hits / total)


def test_cosine_search_join_matches_brute_search(spark, cosine_index):
    """The DataFrame-query-side search under METRIC=COSINE: search_join
    must equal the collected-batch BRUTE search row-for-row (gid, rank,
    distance, score) — exercises the normalize-on-build + exact-re-rank
    interplay on the distributed path, previously only L2-covered."""
    idx, data, _ = cosine_index
    qdf = _queries_df(spark, data, [0, 5, 9, 44])
    a = sorted(
        (r["query_id"], r["rank"], r["gid"], round(r["distance"], 9),
         round(r["score"], 9))
        for r in idx.search_join(qdf, k=5).collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["gid"], round(r["distance"], 9),
         round(r["score"], 9))
        for r in idx.search(qdf, k=5, params=SearchParams(mode="BRUTE")).collect()
    )
    assert a == b
    # GRAPH default on the distributed path holds the recall gate too
    qids = list(range(0, N, N // 15))[:15]
    g = idx.search_join(
        _queries_df(spark, data, qids), k=10, params=SearchParams(mode="GRAPH")
    ).collect()
    exact = idx.search(
        _queries_df(spark, data, qids), k=10, params=SearchParams(mode="BRUTE")
    ).collect()
    hits, total = _recall(g, exact)
    assert total == 15 * 10
    assert hits / total >= 0.9


def test_beam_mode_degenerate_exact_warns_and_recall(spark, built_index):
    """Deprecated BEAM traversal (fdb/FdbVectorIndex.java
    diskannExpand:841-903): (a) emits the reference's WARN-once
    deprecation nudge; (b) pivots ≥ segment size + ef = cap
    short-circuits to the exact full ranking on BOTH the collected and
    DataFrame-query-side paths; (c) default params hold recall ≥ 0.9;
    (d) min_hops/max_explore knobs run and stay subset-valid."""
    import warnings

    from vectorsearch_spark.index import search as S

    idx, data, _ = built_index
    qids = [0, 30, 77, 123]
    qdf = _queries_df(spark, data, qids)
    cap = idx.config.max_segment_size

    S._BEAM_WARNED = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        beam_j = idx.search_join(
            qdf, k=5, params=SearchParams(mode="BEAM", pivots=10**6, ef=cap)
        ).collect()
        beam_c = idx.search(
            qdf, k=5, params=SearchParams(mode="BEAM", pivots=10**6, ef=cap)
        ).collect()
    assert sum("BEAM is deprecated" in str(x.message) for x in w) == 1  # once
    brute = idx.search(qdf, k=5, params=SearchParams(mode="BRUTE")).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["gid"], round(r["distance"], 9)) for r in rows
    )
    assert key(beam_j) == key(brute)
    assert key(beam_c) == key(brute)

    qids = list(range(0, N, N // 25))[:25]
    beam_def = idx.search_join(
        _queries_df(spark, data, qids), k=10, params=SearchParams(mode="BEAM")
    ).collect()
    exact = idx.search(
        _queries_df(spark, data, qids), k=10, params=SearchParams(mode="BRUTE")
    ).collect()
    hits, total = _recall(beam_def, exact)
    assert total == 25 * 10
    assert hits / total >= 0.9, hits / total

    knobs = idx.search_join(
        _queries_df(spark, data, [5]),
        k=3,
        params=SearchParams(
            mode="BEAM", beam=4, max_iters=2, min_hops=2, max_explore=64,
            refine_frontier=False,
        ),
    ).collect()
    assert knobs and len({r["gid"] for r in knobs}) == len(knobs)


def test_opq_index_end_to_end(spark, tmp_path_factory):
    """use_opq=True (OPQ extension): stored rotations are orthogonal,
    stored codes equal the NumPy OPQ pipeline bit-exactly (encode in
    rotated space against the stored rotation), PQ-mode search recall
    holds on CORRELATED data (where OPQ matters), and exact self-query
    top-1 still resolves — the re-rank path is rotation-free."""
    from vectorsearch_spark.operators.pq import encode as pq_encode
    from vectorsearch_spark.operators.pq import opq_train

    path = str(tmp_path_factory.mktemp("vsidx_opq"))
    dim, cap, n = 16, 50, 200
    rng = np.random.default_rng(9)
    mix = rng.normal(size=(dim, dim)) @ np.diag(np.linspace(2.0, 0.2, dim))
    data = (rng.normal(size=(n, dim)) @ mix).astype(np.float32)
    cfg = IndexConfig(
        name="opq", dimension=dim, max_segment_size=cap, pq_m=4, pq_k=16,
        graph_degree=16, graph_build_breadth=32, oversample=4, seed=42,
        use_opq=True, opq_iters=4,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        "row_id long, embedding array<float>",
    )
    idx.add(df.repartition(4), order_col="row_id")
    sealed = idx.build()
    assert sealed == [0, 1, 2, 3]

    # artifact wiring: per segment, rotation orthogonal + codes == model
    cb_rows = {r["seg_id"]: r for r in idx.codebooks().collect()}
    code_rows = idx.codes(sealed).collect()
    codes_by_seg: dict = {}
    for r in code_rows:
        codes_by_seg.setdefault(r["seg_id"], {})[r["vec_id"]] = bytes(r["codes"])
    for sid in sealed:
        r = cb_rows[sid]
        assert r["rotation"] is not None
        rot = np.array(r["rotation"], dtype=np.float64).reshape(dim, dim)
        assert np.allclose(rot @ rot.T, np.eye(dim), atol=1e-10)
        x = data[sid * cap : (sid + 1) * cap].astype(np.float64)
        rot_m, cb_m = opq_train(x, 4, 16, iters=4, pq_iters=cfg.pq_iters, seed=42)
        assert np.array_equal(rot, rot_m)
        model_codes = pq_encode(x @ rot_m, cb_m)
        for v in range(cap):
            assert codes_by_seg[sid][v] == model_codes[v].tobytes()

    # the seg_id-filtered codebooks() read serves every sealed rotation
    rots = {r["seg_id"]: r["rotation"] for r in idx.codebooks(sealed).collect()}
    assert sorted(rots) == sealed and all(rots[s] is not None for s in sealed)

    # search: PQ-mode recall vs BRUTE on the correlated corpus
    qids = list(range(0, n, n // 25))[:25]
    qdf = spark.createDataFrame(
        [(int(i), data[i].tolist()) for i in qids], "query_id long, embedding array<float>"
    )
    approx = idx.search(qdf, k=10)
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE"))
    got: dict = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["gid"])
    hits = total = 0
    for r in exact.collect():
        total += 1
        hits += r["gid"] in got[r["query_id"]]
    assert total == 25 * 10 and hits / total >= 0.9
    top1 = {r["query_id"]: r["gid"] for r in idx.search(qdf, k=1).collect()}
    assert top1 == {i: i for i in qids}


def test_opq_index_compaction_preserves_results(spark, tmp_path_factory):
    """Maintenance on an OPQ index: compacting two segments retrains
    the destination's rotation inside the rebuild, the new cb row
    carries a fresh orthogonal rotation, and exhaustive search results
    are identical before/after (gids stable, exact re-rank intact)."""
    path = str(tmp_path_factory.mktemp("vsidx_opqc"))
    dim, cap, n = 16, 50, 150
    rng = np.random.default_rng(13)
    mix = rng.normal(size=(dim, dim)) @ np.diag(np.linspace(2.0, 0.2, dim))
    data = (rng.normal(size=(n, dim)) @ mix).astype(np.float32)
    cfg = IndexConfig(
        name="opqc", dimension=dim, max_segment_size=cap, pq_m=4, pq_k=16,
        graph_degree=16, graph_build_breadth=32, oversample=4, seed=42,
        use_opq=True, opq_iters=3,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        "row_id long, embedding array<float>",
    )
    idx.add(df, order_col="row_id")
    idx.build()
    qdf = spark.createDataFrame(
        [(int(i), data[i].tolist()) for i in (3, 77, 120)],
        "query_id long, embedding array<float>",
    )
    exhaustive = SearchParams(ef=cap)
    before = {
        (r["query_id"], r["rank"]): r["gid"]
        for r in idx.search(qdf, k=5, params=exhaustive).collect()
    }
    dest = idx.compact([0, 1])
    rot_row = {r["seg_id"]: r for r in idx.codebooks([dest]).collect()}[dest]
    assert rot_row["rotation"] is not None
    rot = np.array(rot_row["rotation"], dtype=np.float64).reshape(dim, dim)
    assert np.allclose(rot @ rot.T, np.eye(dim), atol=1e-10)
    after = {
        (r["query_id"], r["rank"]): r["gid"]
        for r in idx.search(qdf, k=5, params=exhaustive).collect()
    }
    assert before == after


def test_opq_index_vacuum_rebuilds_rotation(spark, tmp_path_factory):
    """Vacuum on an OPQ segment: the physical rewrite retrains
    codebook + rotation on the survivors, deleted gids disappear, and
    exhaustive search over the remaining rows stays exact."""
    path = str(tmp_path_factory.mktemp("vsidx_opqv"))
    dim, cap, n = 16, 50, 100
    rng = np.random.default_rng(17)
    mix = rng.normal(size=(dim, dim)) @ np.diag(np.linspace(2.0, 0.2, dim))
    data = (rng.normal(size=(n, dim)) @ mix).astype(np.float32)
    cfg = IndexConfig(
        name="opqv", dimension=dim, max_segment_size=cap, pq_m=4, pq_k=16,
        graph_degree=16, graph_build_breadth=32, oversample=4, seed=42,
        use_opq=True, opq_iters=3,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        "row_id long, embedding array<float>",
    )
    idx.add(df, order_col="row_id")
    idx.build()
    idx.delete(list(range(0, 20)))
    idx.vacuum(0, force=True)
    rot_row = {r["seg_id"]: r for r in idx.codebooks([0]).collect()}[0]
    assert rot_row["rotation"] is not None
    rot = np.array(rot_row["rotation"], dtype=np.float64).reshape(dim, dim)
    assert np.allclose(rot @ rot.T, np.eye(dim), atol=1e-10)
    qdf = spark.createDataFrame(
        [(25, data[25].tolist()), (70, data[70].tolist())],
        "query_id long, embedding array<float>",
    )
    res = idx.search(qdf, k=3, params=SearchParams(ef=cap)).collect()
    got = {r["query_id"]: r["gid"] for r in res if r["rank"] == 1}
    assert got == {25: 25, 70: 70}
    assert all(r["gid"] >= 20 for r in res)  # vacuumed gids are gone


def test_filtered_search_exact_and_prefilters(spark, built_index):
    """filter_gids: every mode returns ONLY allowed gids; BRUTE and the
    degenerate-exact PQ/GRAPH configs equal NumPy brute force over the
    filtered set (pre-filter, not post-filter — results never underfill
    when enough allowed vectors exist); an empty allow-list returns
    zero rows."""
    idx, data, _ = built_index
    qids = [0, 7, 33, 150]
    qdf = _queries_df(spark, data, qids)
    allowed_ids = [i for i in range(N) if i % 3 == 0]
    allowed = spark.createDataFrame([(i,) for i in allowed_ids], "gid long")

    # NumPy reference over the filtered set
    sub = data[allowed_ids]
    exp = {}
    for q in qids:
        d = np.sqrt(((sub - data[q]) ** 2).sum(axis=1))
        order = np.lexsort((np.array(allowed_ids), d))[:5]
        exp[q] = [(allowed_ids[j], round(float(d[j]), 4)) for j in order]

    for params in (
        SearchParams(mode="BRUTE"),
        SearchParams(ef=CAP),
        SearchParams(mode="GRAPH", ef=CAP, beam=CAP, max_iters=1),
    ):
        res = idx.search(qdf, k=5, params=params, filter_gids=allowed).collect()
        assert all(r["gid"] % 3 == 0 for r in res)
        got = {}
        for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["gid"], round(r["distance"], 4))
            )
        assert got == exp, params

    empty = spark.createDataFrame([], "gid long")
    assert idx.search(qdf, k=5, filter_gids=empty).count() == 0


def test_filtered_search_join_all_modes(spark, built_index):
    """filter_gids on the distributed query-side path: AUTO/PQ/GRAPH
    (exhaustive configs) equal the NumPy reference over the filtered
    set — the allow-list pre-filters the exhaustive scan and the PQ
    cogroup's codes side, and post-filters GRAPH's traversal output."""
    idx, data, _ = built_index
    qids = [0, 7, 33, 150]
    qdf = _queries_df(spark, data, qids)
    allowed_ids = [i for i in range(N) if i % 3 == 0]
    allowed = spark.createDataFrame([(i,) for i in allowed_ids], "gid long")
    sub = data[allowed_ids]
    exp = {}
    for q in qids:
        d = np.sqrt(((sub - data[q]) ** 2).sum(axis=1))
        order = np.lexsort((np.array(allowed_ids), d))[:5]
        exp[q] = [(allowed_ids[j], round(float(d[j]), 4)) for j in order]
    for params in (
        SearchParams(),
        SearchParams(mode="PQ", ef=CAP),
        SearchParams(mode="GRAPH", ef=CAP, pivots=CAP),
    ):
        res = idx.search_join(qdf, k=5, params=params, filter_gids=allowed).collect()
        assert all(r["gid"] % 3 == 0 for r in res)
        got = {}
        for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["gid"], round(r["distance"], 4))
            )
        assert got == exp, params


# ---------------------------------------------------------------------------
# traversal below the segment size: ef < segment rows, so the generators
# run their traversal instead of the every-row-is-a-candidate rule
# ---------------------------------------------------------------------------

EF_BELOW = 20  # < CAP: ef ≥ segment rows would make every row a candidate


def _recall_of(spark, idx, data, qids, params, run="search"):
    qdf = _queries_df(spark, data, qids)
    approx = getattr(idx, run)(qdf, k=10, params=params).collect()
    exact = idx.search(qdf, k=10, params=SearchParams(mode="BRUTE")).collect()
    hits, total = _recall(approx, exact)
    assert total == len(qids) * 10
    return hits / total, approx


def test_graph_random_pivots_recall_below_segment_rows(spark, built_index):
    """RANDOM_PIVOTS traversal with ef < segment rows holds the recall
    gate and is deterministic (pivots seeded by index seed and seg_id)."""
    idx, data, _ = built_index
    qids = list(range(0, N, N // 15))[:15]
    params = SearchParams(
        mode="GRAPH", ef=EF_BELOW, seed_strategy="RANDOM_PIVOTS", pivots=8
    )
    recall, rows = _recall_of(spark, idx, data, qids, params)
    assert recall >= 0.9, recall
    _, again = _recall_of(spark, idx, data, qids, params)
    key = lambda rs: sorted((r["query_id"], r["rank"], r["gid"]) for r in rs)
    assert key(rows) == key(again)


def test_graph_recall_below_segment_rows_l2_and_cosine(spark, built_index, cosine_index):
    """Default GRAPH (PQ seeds) with ef < segment rows holds the recall
    gate on both entry points, under L2 and under COSINE."""
    qids = list(range(0, N, N // 15))[:15]
    params = SearchParams(mode="GRAPH", ef=EF_BELOW)
    for idx, data, _ in (built_index, cosine_index):
        for run in ("search", "search_join"):
            recall, _ = _recall_of(spark, idx, data, qids, params, run)
            assert recall >= 0.9, (idx.config.metric, run, recall)


def test_graph_max_explore_caps_visited_nodes(spark, built_index):
    """GRAPH max_explore caps the nodes visited per (query, segment),
    seeds included: 2 PQ seeds + 3 expanded neighbors = 5 candidates
    per segment, so k=30 over 4 segments returns exactly 20 rows per
    query; without the cap the same search fills k."""
    idx, data, _ = built_index
    qdf = _queries_df(spark, data, [0, 77, 150])
    capped = SearchParams(mode="GRAPH", ef=EF_BELOW, beam=2, max_explore=5)
    rows = idx.search(qdf, k=30, params=capped).collect()
    assert _count_by(rows, "query_id") == {0: 20, 77: 20, 150: 20}
    free = SearchParams(mode="GRAPH", ef=EF_BELOW, beam=2)
    rows = idx.search(qdf, k=30, params=free).collect()
    assert _count_by(rows, "query_id") == {0: 30, 77: 30, 150: 30}


def test_beam_recall_below_segment_rows(spark, built_index):
    """Deprecated BEAM with its default beam width and ef < segment rows
    holds the recall gate on both entry points. ef=30, not EF_BELOW:
    the expanded list starts as the 8 pivots and never grows past ef,
    so at ef=20 it holds too few expanded nodes."""
    import warnings

    idx, data, _ = built_index
    qids = list(range(0, N, N // 25))[:25]
    params = SearchParams(mode="BEAM", ef=30)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        for run in ("search", "search_join"):
            recall, _ = _recall_of(spark, idx, data, qids, params, run)
            assert recall >= 0.9, (run, recall)


def test_beam_hop_and_explore_bounds(spark, built_index):
    """BEAM with ef < segment rows honors its bounds: max_iters=0 keeps
    only the pivots (3 per segment → 12 rows at k=30); max_explore=5
    stops expansion once 5 nodes are expanded (2 pivots + 3 found → 20
    rows; refine_frontier=False, so no frontier member is expanded
    twice); min_hops only repeats an exhausted frontier, which finds no
    new node, so it leaves the result unchanged. Every row carries its
    exact distance."""
    import warnings

    idx, data, _ = built_index
    qids = [0, 77, 150]
    qdf = _queries_df(spark, data, qids)
    base = dict(mode="BEAM", ef=EF_BELOW, beam=4, refine_frontier=False)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        seeds = idx.search(
            qdf, k=30, params=SearchParams(**base, pivots=3, max_iters=0)
        ).collect()
        capped = idx.search(
            qdf, k=30, params=SearchParams(**base, pivots=2, max_explore=5)
        ).collect()
        hops = idx.search(
            qdf, k=30, params=SearchParams(**base, pivots=2, max_explore=5, min_hops=4)
        ).collect()
    assert _count_by(seeds, "query_id") == {0: 12, 77: 12, 150: 12}
    assert _count_by(capped, "query_id") == {0: 20, 77: 20, 150: 20}
    key = lambda rs: sorted((r["query_id"], r["rank"], r["gid"]) for r in rs)
    assert key(hops) == key(capped)
    for r in capped:
        d = float(np.sqrt(((data[r["gid"]] - data[r["query_id"]]) ** 2).sum()))
        assert abs(r["distance"] - d) < 1e-5


def _shuffled_scans(plan, path: str, under_shuffle=False) -> list[str]:
    """Scans of ``path`` that reach a shuffle exchange without first
    passing a left-semi join, in a physical plan (AQE stages included)."""
    name = plan.nodeName()
    if name == "Exchange":
        under_shuffle = True
    elif "Join" in name and "LeftSemi" in plan.simpleString(100):
        under_shuffle = False
    if name.startswith("Scan") and path in plan.simpleString(400):
        return [plan.simpleString(400)] if under_shuffle else []
    return [s for kid in _plan_children(plan) for s in _shuffled_scans(kid, path, under_shuffle)]


def _plan_children(plan) -> list:
    """A physical plan node's children, through AQE query stages, reused
    exchanges and adaptive plans; a cached relation's scan is a leaf."""
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    for attr in ("plan", "child", "executedPlan"):  # stage / reuse / AQE leaves
        if not kids and hasattr(plan, attr):
            try:
                kids = [getattr(plan, attr)()]
            except Exception:
                pass
    return kids


def _plan_nodes(plan) -> list:
    """Every node of a physical plan, walked as ``_shuffled_scans`` does."""
    return [plan] + [n for kid in _plan_children(plan) for n in _plan_nodes(kid)]


def test_rerank_never_shuffles_the_vectors_scan(spark, built_index):
    """The exact re-rank cuts the vectors scan to the candidate rows
    (semi-join against the broadcast candidate pairs) before any
    shuffle. With auto-broadcast off, as for a vectors table above the
    broadcast threshold, a sort-merge re-rank join would otherwise
    shuffle the embeddings of every sealed row."""
    idx, data, _ = built_index
    qdf = _queries_df(spark, data, [0, 77, 150])
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for params in (SearchParams(), SearchParams(mode="GRAPH", ef=EF_BELOW)):
            res = idx.search(qdf, k=10, params=params)
            assert len(res.collect()) == 3 * 10
            plan = res._jdf.queryExecution().executedPlan()
            vectors = idx.vectors_path.split("://")[-1]
            assert _shuffled_scans(plan, vectors) == [], params
    finally:
        spark.conf.set(key, old)


def test_query_blocks_leave_results_unchanged(spark, built_index):
    """A cogroup task scores its segment against blocks of at most 1,024
    queries; 1,100 queries span two blocks, and both scans (brute, and
    PQ at ef = segment rows) still return the exact top-3 of every
    query."""
    idx, data, _ = built_index
    n_q = 1100
    vec = idx.vectors().select("gid", "embedding")
    q = (
        spark.range(n_q)
        .select(F.col("id").alias("query_id"), (F.col("id") % N).alias("gid"))
        .join(vec, "gid")
        .select("query_id", "embedding")
    )
    exp = {}
    for qid in range(N):
        d = np.sqrt(((data.astype(np.float64) - data[qid]) ** 2).sum(axis=1))
        exp[qid] = [int(g) for g in np.lexsort((np.arange(N), d))[:3]]
    for run, params in (
        (idx.search_join, SearchParams()),
        (idx.search, SearchParams(mode="PQ", ef=CAP)),
    ):
        got = {}
        for r in sorted(run(q, k=3, params=params).collect(), key=lambda r: r["rank"]):
            got.setdefault(r["query_id"], []).append(r["gid"])
        assert len(got) == n_q, params
        assert all(got[qid] == exp[qid % N] for qid in got), params


def test_normalize_on_read_cosine_rows_and_distance_bytes(spark, cosine_index):
    """normalize_on_read re-scores every candidate on its stored
    embedding normalized by the exact kernel and rounded to float
    (fdb/FdbVectorIndex.java:823-826): each returned distance is,
    byte for byte, the left-fold reference cosine distance between
    float32(normalize(embedding)) and the query. BRUTE returns the
    exact top-8 under that distance, and on this fixture so do PQ and
    GRAPH with ef below the segment rows."""
    import struct

    from tests.distance_ref import ref

    idx, data, _ = cosine_index
    qids = [5, 66, 123]
    qdf = _queries_df(spark, data, qids)
    unit = [
        np.asarray(ref("normalize", [float(x) for x in row]), dtype=np.float32)
        for row in data
    ]

    def dist(g, q):
        return ref("cosine_distance", [float(x) for x in unit[g]], [float(x) for x in data[q]])

    def exact_top8(q):
        return sorted(range(N), key=lambda g: (dist(g, q), g))[:8]

    expected = [(q, rank + 1, g) for q in qids for rank, g in enumerate(exact_top8(q))]
    for mode, ef in (("BRUTE", None), ("PQ", EF_BELOW), ("GRAPH", EF_BELOW)):
        params = SearchParams(mode=mode, ef=ef, normalize_on_read=True)
        rows = idx.search(qdf, k=8, params=params).collect()
        got = sorted((r["query_id"], r["rank"], r["gid"]) for r in rows)
        assert got == expected, mode
        for r in rows:
            want = dist(r["gid"], r["query_id"])
            assert struct.pack("<d", r["distance"]) == struct.pack("<d", want), (mode, r)


def test_search_after_every_write_equals_a_fresh_handle(spark, tmp_path_factory):
    """One handle keeps its cached searchable side across searches.
    After each write (add, delete, build, vacuum, compact, and recover()
    of a vacuum that crashed mid-swap while ingest went on), and after
    the side's cached blocks are evicted behind the handle's back, its
    PQ search, GRAPH search with ef below the segment rows and
    search_join return exactly what a freshly opened handle returns,
    and never a tombstoned gid or a gid twice."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from vectorsearch_spark import staging

    path = str(tmp_path_factory.mktemp("vscache"))
    cfg = IndexConfig(
        name="c", dimension=DIM, max_segment_size=CAP, pq_m=4, pq_k=16,
        graph_degree=8, graph_build_breadth=16, graph_alpha=1.2, seed=42,
    )
    idx = VectorIndex.create(spark, path, cfg)
    df, data = _gaussian_df(spark, 200, DIM, seed=5)
    qdf = _queries_df(spark, data, [3, 60, 110, 160])
    dead: set[int] = set()
    runs = (
        ("search", SearchParams(mode="PQ")),
        ("search", SearchParams(mode="GRAPH", ef=EF_BELOW)),
        ("search_join", SearchParams()),
    )

    def rows(*handles):
        # every run on every handle in one Spark action
        got = reduce(
            DataFrame.unionByName,
            [
                getattr(h, run)(qdf, k=5, params=params).withColumn("run", F.lit(i))
                .withColumn("handle", F.lit(j))
                for i, (run, params) in enumerate(runs)
                for j, h in enumerate(handles)
            ],
        ).collect()
        return [
            sorted((r["run"], r["query_id"], r["rank"], r["gid"], r["distance"])
                   for r in got if r["handle"] == j)
            for j in range(len(handles))
        ]

    def check(step):
        got, want = rows(idx, VectorIndex.open(spark, path))
        assert got == want, step
        hits = [(run, q, g) for run, q, _, g, _ in got]
        assert len(set(hits)) == len(hits), step
        assert not dead & {g for _, _, g in hits}, step
        assert {run for run, _, _ in hits} == {0, 1, 2}, step

    def add(lo, hi):
        idx.add(df.filter((F.col("row_id") >= lo) & (F.col("row_id") < hi)), order_col="row_id")

    add(0, 120)
    assert idx.build() == [0, 1]
    rows(idx)  # caches the searchable side
    add(120, 170)
    check("add")
    doomed = list(range(10, 40)) + [101, 105, 110]
    assert idx.delete(doomed) == len(doomed)
    dead |= set(doomed)
    check("delete")
    # evict the side's blocks as memory pressure would: the next search
    # recomputes them from the files the side was built on
    side, _ = idx.searchable_side()
    cached = side._jdf.queryExecution().withCachedData()
    rdd_id = cached.cacheBuilder().cachedColumnBuffers().id()
    sc = spark.sparkContext._jsc.sc()

    def cached_partitions():
        info = [i for i in sc.getRDDStorageInfo() if i.id() == rdd_id]
        return info[0].numCachedPartitions() if info else 0

    assert cached_partitions() > 0
    sc.unpersistRDD(rdd_id, True)
    assert cached_partitions() == 0
    check("evict")
    assert idx.build() == [2]
    check("build")
    assert idx.vacuum(0, force=True)
    check("vacuum")
    dest = idx.compact([0, 1])
    check("compact")

    class Boom(RuntimeError):
        pass

    def hook(stage, detail):
        if stage == "backed_up":
            raise Boom(f"injected at {stage}:{detail}")

    staging._FAULT = hook
    try:
        with pytest.raises(Boom):
            idx.vacuum(2, force=True)
    finally:
        staging._FAULT = None
    add(170, 200)
    rows(idx)  # caches the searchable side of the crashed tables
    assert "restored:seg_id=2" in idx.recover()["swaps"]
    assert sorted(idx.registered_seg_ids((SEALED,))) == [2, dest]
    check("recover")


def test_fresh_handle_builds_every_search_without_a_job(spark, built_index, tmp_path_factory):
    """On a freshly opened handle, building a search DataFrame launches
    no Spark job: a sealed segment's codebook and OPQ rotation reach its
    task inside the searchable side, and the payload attach is one
    broadcast join. Holds for PQ, GRAPH, BEAM and BRUTE ``search``,
    ``search_join`` AUTO and PQ and a filtered PQ ``search``, on a
    payload-free L2 index, an OPQ index and a payload index; each
    result equals a second fresh handle's."""
    from functools import reduce

    from pyspark.sql import DataFrame

    idx, data, _ = built_index
    df = _gaussian_df(spark, N, DIM, seed=42)[0].filter(F.col("row_id") < 2 * CAP)
    base = dict(name="f", dimension=DIM, max_segment_size=CAP, pq_m=4, pq_k=16,
                graph_degree=16, graph_build_breadth=32, oversample=4, seed=42)
    opq = VectorIndex.create(
        spark, str(tmp_path_factory.mktemp("vsfresh_opq")),
        IndexConfig(**base, use_opq=True, opq_iters=2),
    )
    opq.add(df.repartition(4), order_col="row_id")
    pay = VectorIndex.create(
        spark, str(tmp_path_factory.mktemp("vsfresh_pay")), IndexConfig(**base)
    )
    pay.add(
        df.withColumn("payload", F.encode(F.format_string("pl-%d", "row_id"), "UTF-8")),
        order_col="row_id", payload_col="payload",
    )
    for built in (opq, pay):
        assert built.build() == [0, 1]
    qdf = _queries_df(spark, data, [0, 77, 150])
    allowed = spark.range(0, N, 3).withColumnRenamed("id", "gid")
    runs = (
        ("search", SearchParams(mode="PQ", ef=EF_BELOW), None),
        ("search", SearchParams(mode="GRAPH", ef=EF_BELOW), None),
        ("search", SearchParams(mode="BEAM", ef=EF_BELOW), None),
        ("search", SearchParams(mode="BRUTE"), None),
        ("search_join", SearchParams(), None),
        ("search_join", SearchParams(mode="PQ", ef=EF_BELOW), None),
        ("search", SearchParams(mode="PQ", ef=EF_BELOW), allowed),
    )

    def rows(path):
        # two fresh handles, every run on each, in one Spark action
        frames = []
        for j in range(2):
            handle = VectorIndex.open(spark, path)
            for i, (run, params, filter_gids) in enumerate(runs):
                res, jobs = jobs_launched(
                    spark,
                    lambda: getattr(handle, run)(qdf, k=5, params=params, filter_gids=filter_gids),
                )
                assert jobs == 0, (path, i)
                frames.append(res.withColumn("run", F.lit(i)).withColumn("handle", F.lit(j)))
        got = reduce(DataFrame.unionByName, frames).collect()
        return [
            sorted(
                (r["run"], r["query_id"], r["rank"], r["gid"], r["distance"], r["score"],
                 None if r["payload"] is None else bytes(r["payload"]))
                for r in got if r["handle"] == j
            )
            for j in range(2)
        ]

    for built in (idx, opq, pay):
        got, again = rows(built.path)
        assert got == again
        assert len(got) == len(runs) * 3 * 5
        assert all(p == (f"pl-{g}".encode() if built is pay else None)
                   for _, _, _, g, _, _, p in got)
