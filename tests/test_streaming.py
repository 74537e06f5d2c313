"""Structured Streaming tests: file-source micro-batch ingest into the
index (with rotation + build-on-rotate), watermarked windowed rollup
equivalence to the batch query, and applyInPandasWithState
sessionization vs the batch window oracle."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from vectorsearch_spark.config import ACTIVE, SEALED, IndexConfig
from vectorsearch_spark.index import VectorIndex
from vectorsearch_spark.streaming import sessionize, stream_add, stream_events_rollup
from vectorsearch_spark.streaming.rollup import sessionize_batch

EMB_SCHEMA = "row_id long, embedding array<float>"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stream_add_rotates_and_builds(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    idx_path = str(tmp_path_factory.mktemp("stream_idx"))
    # two micro-files, 25 rows total, cap 10 → segments 0,1 sealed, 2 ACTIVE
    _write_batch(spark, src, [(i, [float(i), 0.0]) for i in range(15)])
    _write_batch(spark, src, [(i, [float(i), 1.0]) for i in range(15, 25)])
    idx = VectorIndex.create(
        spark,
        idx_path,
        IndexConfig(name="s", dimension=2, max_segment_size=10, pq_m=2, pq_k=4),
    )
    stream = spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_add(idx, stream, order_col="row_id", checkpoint_dir=ckpt)
    q.awaitTermination(120)
    assert not q.isActive or q.stop() is None
    states = {r["seg_id"]: r["state"] for r in idx.segments().collect()}
    assert states[0] == SEALED and states[1] == SEALED
    assert states[2] == ACTIVE
    assert idx.next_gid == 25
    # every row searchable across sealed + active segments
    qdf = spark.createDataFrame([(0, [3.0, 0.0])], "query_id long, embedding array<float>")
    top = idx.search(qdf, k=1).collect()
    assert len(top) == 1


def test_stream_rollup_matches_batch(spark, sf_dir, tmp_path_factory):
    from vectorsearch_spark.workload import _events

    ckpt = str(tmp_path_factory.mktemp("roll_ckpt"))
    ev = _events(spark, sf_dir).select("ts", "event_type", "value")
    src = str(tmp_path_factory.mktemp("roll_src"))
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = stream_events_rollup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("roll_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM roll_out").collect()
    }
    expect = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in stream_events_rollup(ev).collect()
    }
    assert got == expect and len(got) > 0


def test_sessionize_stream_vs_batch_oracle(spark, tmp_path_factory):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # user 1: two sessions (gap 100s > 60s threshold); user 2: one session
    for off in (0, 10, 20, 120, 130):
        rows.append((1, base + dt.timedelta(seconds=off), 1.0))
    for off in (5, 15):
        rows.append((2, base + dt.timedelta(seconds=off), 2.0))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path_factory.mktemp("sess_src"))
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt"))
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        sessionize(stream, gap_seconds=60.0)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # The availableNow query stays alive for processing-time timeout
    # flushes (gap_seconds of WALL time) — r12's awaitTermination(120)
    # burned the full timeout every run. The deterministic emission (the
    # in-batch close of user 1's first session) lands in the FIRST
    # micro-batch: poll for it, then stop; open-tail flushes were always
    # optional ("MAY also flush" below).
    import time as _t

    deadline = _t.time() + 90
    while _t.time() < deadline and q.isActive:
        if spark.sql("SELECT count(*) FROM sess_out").collect()[0][0] >= 1:
            break
        _t.sleep(0.5)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # batch oracle: the complete session set including open tails
    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): (r["n_events"], r["sum_value"])
        for r in sessionize_batch(ev, gap_seconds=60.0).collect()
    }
    assert batch == {
        (1, base, base + dt.timedelta(seconds=20)): (3, 3.0),
        (1, base + dt.timedelta(seconds=120), base + dt.timedelta(seconds=130)): (2, 2.0),
        (2, base + dt.timedelta(seconds=5), base + dt.timedelta(seconds=15)): (2, 4.0),
    }
    # the stream's closed sessions: the 120s event definitely closed user
    # 1's first session; open tails MAY also flush via processing-time
    # timeout before the availableNow query stops (timing-dependent), but
    # everything emitted must agree with the oracle exactly
    assert (1, base, base + dt.timedelta(seconds=20)) in got
    for k, v in got.items():
        assert batch[k] == v, k


def test_sessionize_batch_hot_key_correct(spark):
    """Documented skew bound (rollup.py sessionize_batch): one user
    holding ~50% of all events funnels through one task — parallelism
    degrades but results must stay exact. Model-checked against a
    per-row Python sessionizer on a 1000-event hot key."""
    import datetime as dt
    import random

    rng = random.Random(11)
    base = dt.datetime(2024, 1, 1)
    rows = []
    hot_ts = sorted(rng.randrange(0, 40_000) for _ in range(1000))
    for s in hot_ts:
        rows.append((1, base + dt.timedelta(seconds=s), 1.0))
    for i in range(1000):  # 100 cold users share the other half
        rows.append((2 + i % 100, base + dt.timedelta(seconds=rng.randrange(0, 40_000)), 1.0))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_batch(ev, gap_seconds=60.0).collect()
    }

    want = set()
    by_user: dict[int, list] = {}
    for u, t, _ in rows:
        by_user.setdefault(u, []).append(t)
    for u, tss in by_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for t in tss[1:]:
            if (t - last).total_seconds() > 60.0:
                want.add((u, start, last, n))
                start, n = t, 0
            last = t
            n += 1
        want.add((u, start, last, n))
    assert got == want


def test_stream_add_exactly_once_replay_after_commit(spark, tmp_path_factory):
    """Failure injection AFTER the epoch's atomic commit (on_batch runs
    post-add): Spark replays the epoch on restart because the checkpoint
    never recorded it — the meta.json epoch guard must skip the re-add.
    No duplicate gids, counts unchanged."""
    src = str(tmp_path_factory.mktemp("eo_src"))
    ckpt = str(tmp_path_factory.mktemp("eo_ckpt"))
    idx_path = str(tmp_path_factory.mktemp("eo_idx"))
    _write_batch(spark, src, [(i, [float(i), 0.0]) for i in range(12)])
    _write_batch(spark, src, [(i, [float(i), 1.0]) for i in range(12, 20)])
    idx = VectorIndex.create(
        spark,
        idx_path,
        IndexConfig(name="eo", dimension=2, max_segment_size=10, pq_m=2, pq_k=4),
    )
    stream = spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)

    def boom(epoch_id, n_built):
        raise RuntimeError("injected post-commit failure")

    q = stream_add(idx, stream, order_col="row_id", checkpoint_dir=ckpt, on_batch=boom)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        q.processAllAvailable()
    # epoch 0's rows committed even though the epoch "crashed" after
    assert idx.next_gid == 12
    # restart from the same checkpoint: epoch 0 replays (guard skips it),
    # epoch 1 applies fresh
    stream2 = spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q2 = stream_add(idx, stream2, order_col="row_id", checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    rows = idx.vectors().select("gid").collect()
    gids = sorted(r["gid"] for r in rows)
    assert gids == list(range(20))  # every row exactly once
    assert idx.next_gid == 20


def test_stream_add_recovers_at_start_after_crash_before_commit(
    spark, tmp_path_factory, monkeypatch
):
    """A micro-batch dies after its parquet append, at its catalog
    write: the epoch is unrecorded and its rows are on disk. A restarted
    stream_add runs recover() before any epoch replays, so the replayed
    epoch lands every row exactly once."""
    from vectorsearch_spark.index import catalog

    src = str(tmp_path_factory.mktemp("rs_src"))
    ckpt = str(tmp_path_factory.mktemp("rs_ckpt"))
    idx_path = str(tmp_path_factory.mktemp("rs_idx"))
    _write_batch(spark, src, [(i, [float(i), 0.0]) for i in range(12)])
    _write_batch(spark, src, [(i, [float(i), 1.0]) for i in range(12, 20)])
    idx = VectorIndex.create(
        spark, idx_path,
        IndexConfig(name="rs", dimension=2, max_segment_size=10, pq_m=2, pq_k=4),
    )
    real = catalog.write_file_atomic

    def failing(dir_path, name, data):
        if name == "meta.json" and '"applied_epochs":{"s":1}' in data:
            raise RuntimeError("injected at epoch 1's catalog write")
        return real(dir_path, name, data)

    monkeypatch.setattr(catalog, "write_file_atomic", failing)
    stream = spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_add(idx, stream, order_col="row_id", checkpoint_dir=ckpt, stream_id="s")
    with pytest.raises(Exception):
        q.awaitTermination(120)
        q.processAllAvailable()
    monkeypatch.setattr(catalog, "write_file_atomic", real)
    assert idx.next_gid == 12
    assert spark.read.parquet(idx.vectors_path).count() == 20  # 8 orphans

    idx2 = VectorIndex.open(spark, idx_path)
    stream2 = spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q2 = stream_add(idx2, stream2, order_col="row_id", checkpoint_dir=ckpt, stream_id="s")
    q2.awaitTermination(120)
    raw = spark.read.parquet(idx2.vectors_path).collect()
    assert sorted(r["gid"] for r in raw) == list(range(20))  # every row exactly once
    assert len({(r["seg_id"], r["vec_id"]) for r in raw}) == 20
    assert idx2.next_gid == 20


def test_stream_add_scrub_after_crash_before_commit(spark, tmp_path_factory):
    """Failure injection BEFORE the atomic catalog commit: parquet rows
    landed but meta.json (registry, gid counter and epoch mark) did not
    — simulated by restoring the pre-attempt meta bytes. recover() at
    writer start-up must scrub the orphan gids, leave the registry as
    committed, and the replayed epoch must apply exactly once."""
    import json

    idx_path = str(tmp_path_factory.mktemp("scrub_idx"))
    idx = VectorIndex.create(
        spark,
        idx_path,
        IndexConfig(name="sc", dimension=2, max_segment_size=10, pq_m=2, pq_k=4),
    )
    # epoch 0: committed normally (15 rows → seg0 full, seg1 at 5)
    batch0 = spark.createDataFrame([(i, [float(i), 0.0]) for i in range(15)], EMB_SCHEMA)
    idx.add(batch0, order_col="row_id", meta_extra={"applied_epochs": {"s": 0}})
    with open(idx.meta_path) as f:
        meta_before = f.read()
    segs_before = idx._segment_rows()

    # epoch 1 attempt: full add → then crash JUST BEFORE the meta
    # rename (simulated by restoring the old meta bytes)
    batch1 = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(15, 28)], EMB_SCHEMA)
    idx.add(batch1, order_col="row_id", meta_extra={"applied_epochs": {"s": 1}})
    with open(idx.meta_path, "w") as f:
        f.write(meta_before)

    # fresh handle = restarted driver; orphan rows visible pre-recovery
    idx2 = VectorIndex.open(spark, idx_path)
    raw = spark.read.parquet(idx2.vectors_path)
    assert raw.count() == 28  # 13 orphans present on disk
    scrubbed = idx2.recover()["orphans_scrubbed"]
    assert scrubbed == 13
    assert idx2._segment_rows() == segs_before
    assert sorted(r["gid"] for r in idx2.vectors().collect()) == list(range(15))

    # replayed epoch 1 now applies cleanly
    idx2.add(batch1, order_col="row_id", meta_extra={"applied_epochs": {"s": 1}})
    gids = sorted(r["gid"] for r in idx2.vectors().collect())
    assert gids == list(range(28))  # exactly once, dense, no duplicates
    assert json.loads(open(idx2.meta_path).read())["applied_epochs"] == {"s": 1}
    assert idx2.build()  # sealed segments search fine after recovery
    qdf = spark.createDataFrame([(0, [20.0, 1.0])], "query_id long, embedding array<float>")
    assert len(idx2.search(qdf, k=3).collect()) == 3


def test_stream_recovery_crash_after_parquet_only(spark, tmp_path_factory):
    """Crash point: parquet rows committed but the catalog did not
    advance — recovery scrubs the orphans from the committed next_gid
    alone."""
    idx_path = str(tmp_path_factory.mktemp("ponly_idx"))
    idx = VectorIndex.create(
        spark, idx_path,
        IndexConfig(name="po", dimension=2, max_segment_size=10, pq_m=2, pq_k=4),
    )
    idx.add(
        spark.createDataFrame([(i, [float(i), 0.0]) for i in range(7)], EMB_SCHEMA),
        order_col="row_id", meta_extra={"applied_epochs": {"s": 0}},
    )
    meta_before = open(idx.meta_path).read()
    idx.add(
        spark.createDataFrame([(i, [float(i), 1.0]) for i in range(7, 18)], EMB_SCHEMA),
        order_col="row_id", meta_extra={"applied_epochs": {"s": 1}},
    )
    # crash simulated just after the parquet job commit: roll the
    # catalog back to its pre-epoch bytes
    with open(idx.meta_path, "w") as f:
        f.write(meta_before)
    idx2 = VectorIndex.open(spark, idx_path)
    assert spark.read.parquet(idx2.vectors_path).count() == 18  # orphans on disk
    assert idx2.recover()["orphans_scrubbed"] == 11
    assert sorted(r["gid"] for r in idx2.vectors().collect()) == list(range(7))
    idx2.add(
        spark.createDataFrame([(i, [float(i), 1.0]) for i in range(7, 18)], EMB_SCHEMA),
        order_col="row_id", meta_extra={"applied_epochs": {"s": 1}},
    )
    gids = sorted(r["gid"] for r in idx2.vectors().collect())
    assert gids == list(range(18))  # exactly once after replay


def test_build_and_orphan_scrub_leave_partition_overwrite_mode_alone(
    spark, tmp_path_factory, monkeypatch
):
    """The segment build and the streaming orphan scrub rewrite index
    partitions through the staged swap, never by switching the
    session-wide partitionOverwriteMode (which would change every other
    write on the same session while set). Spies on RuntimeConfig.set
    across a build, a scrub that rewrites a partially orphaned
    partition, and the rebuild after it."""
    from pyspark.sql.conf import RuntimeConfig

    keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    idx_path = str(tmp_path_factory.mktemp("nomode_idx"))
    idx = VectorIndex.create(
        spark, idx_path,
        IndexConfig(name="nm", dimension=2, max_segment_size=10, pq_m=2, pq_k=4),
    )
    idx.add(
        spark.createDataFrame([(i, [float(i), 0.0]) for i in range(15)], EMB_SCHEMA),
        order_col="row_id", meta_extra={"applied_epochs": {"s": 0}},
    )
    assert idx.build() == [0]
    meta_before = open(idx.meta_path).read()
    idx.add(
        spark.createDataFrame([(i, [float(i), 1.0]) for i in range(15, 28)], EMB_SCHEMA),
        order_col="row_id", meta_extra={"applied_epochs": {"s": 1}},
    )
    # crash just after the parquet commit: seg 1 is half orphans
    with open(idx.meta_path, "w") as f:
        f.write(meta_before)
    idx2 = VectorIndex.open(spark, idx_path)
    assert idx2.recover()["orphans_scrubbed"] == 13
    assert sorted(r["gid"] for r in idx2.vectors().collect()) == list(range(15))
    idx2.add(
        spark.createDataFrame([(i, [float(i), 1.0]) for i in range(15, 28)], EMB_SCHEMA),
        order_col="row_id", meta_extra={"applied_epochs": {"s": 1}},
    )
    assert idx2.build() == [1]
    assert "spark.sql.sources.partitionOverwriteMode" not in keys


def test_stream_dedup_drops_replayed_rows(spark, tmp_path_factory):
    """At-least-once input (every event written TWICE, in two files so
    they can land in different micro-batches) → exactly-once output:
    the watermarked dropDuplicates keeps one copy per event_id. Batch
    distinct is the oracle."""
    import datetime as dt

    from vectorsearch_spark.streaming.rollup import stream_dedup_events

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, 1 + i % 3, base + dt.timedelta(seconds=10 * i), float(i)) for i in range(20)]
    schema = "event_id long, user_id long, ts timestamp, value double"
    ev = spark.createDataFrame(rows, schema)
    src = str(tmp_path_factory.mktemp("dedup_src"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # the replay
    assert spark.read.parquet(src).count() == 40

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream_dedup_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_out").collect()
    assert len(got) == 20  # one copy per event_id across micro-batches
    assert {r["event_id"] for r in got} == set(range(20))
    # value integrity: the surviving copy is a faithful row
    vals = {r["event_id"]: r["value"] for r in got}
    assert all(vals[i] == float(i) for i in range(20))


def test_stream_enrich_matches_batch_join(spark, tmp_path_factory):
    """Stream-static enrichment: per-micro-batch broadcast join against
    a static dimension ≡ the batch join on the same data."""
    import datetime as dt

    from vectorsearch_spark.streaming.rollup import stream_enrich

    base = dt.datetime(2024, 1, 1)
    rows = [(i, 1 + i % 4, base + dt.timedelta(seconds=i), float(i)) for i in range(12)]
    schema = "event_id long, user_id long, ts timestamp, value double"
    ev = spark.createDataFrame(rows, schema)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "bronze")], "user_id long, tier string"
    )
    src = str(tmp_path_factory.mktemp("enrich_src"))
    ckpt = str(tmp_path_factory.mktemp("enrich_ckpt"))
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_enrich(stream, dim, on="user_id")
        .writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["tier"]) for r in spark.sql("SELECT * FROM enrich_out").collect()
    }
    want = {
        (r["event_id"], r["tier"])
        for r in stream_enrich(ev, dim, on="user_id").collect()
    }
    assert got == want and len(got) == 12
    # user 4 (i % 4 == 3 → user_id 4) has no dim row → NULL tier kept by left join
    assert any(t is None for _, t in got)


def test_stream_stream_join_matches_batch_join(spark, tmp_path_factory):
    """Watermarked stream-stream inner join (view ⋈ click within 600 s)
    ≡ the same join expression over the batch DataFrames. Includes
    pairs outside the window (excluded), multiple clicks per view
    (all pairs kept), and clicks before the view (excluded)."""
    import datetime as dt

    from vectorsearch_spark.streaming.rollup import stream_stream_join

    base = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)
    schema = "event_id long, user_id long, ts timestamp"
    # user 1: view@0 with clicks at 10 s (in), 500 s (in), 700 s (out)
    # user 2: click@50 BEFORE view@100 (out), click@400 after (in)
    # user 3: view@0, no clicks; user 4: click@0, no view
    views = spark.createDataFrame(
        [(100, 1, base), (101, 2, base + 100 * sec), (102, 3, base)], schema
    )
    clicks = spark.createDataFrame(
        [
            (200, 1, base + 10 * sec),
            (201, 1, base + 500 * sec),
            (202, 1, base + 700 * sec),
            (203, 2, base + 50 * sec),
            (204, 2, base + 400 * sec),
            (205, 4, base),
        ],
        schema,
    )
    vsrc = str(tmp_path_factory.mktemp("ssj_views"))
    csrc = str(tmp_path_factory.mktemp("ssj_clicks"))
    ckpt = str(tmp_path_factory.mktemp("ssj_ckpt"))
    views.write.mode("overwrite").parquet(vsrc)
    clicks.write.mode("overwrite").parquet(csrc)

    vstream = spark.readStream.schema(schema).parquet(vsrc)
    cstream = spark.readStream.schema(schema).parquet(csrc)
    q = (
        stream_stream_join(vstream, cstream, within_seconds=600.0)
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    want = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in stream_stream_join(views, clicks, within_seconds=600.0).collect()
    }
    assert got == want
    assert got == {(1, 100, 200), (1, 100, 201), (2, 101, 204)}


def test_transform_with_state_running_totals(spark, tmp_path_factory):
    """transformWithStateInPandas running counters: replay events in two
    micro-batches; the LAST update per key must equal the batch
    aggregate over all rows (cumulative state survives across batches,
    RocksDB state store).

    The TWS Python runner links against google.protobuf (its state
    protocol is proto-serialized); environments without a working
    protobuf cannot start the runner at all — skip there, the operator
    is exercised on any standard cluster image."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithState runner requires google.protobuf")
    import datetime as dt

    from vectorsearch_spark.streaming.rollup import stream_running_totals

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1 + i % 3, base + dt.timedelta(seconds=i), float(i)) for i in range(30)
    ]
    # NULL values follow the count(value) convention: contribute to
    # neither n_events nor total (matches rollup_state)
    rows += [(30 + k, 1 + k, base + dt.timedelta(seconds=30 + k), None) for k in range(2)]
    schema = "event_id long, user_id long, ts timestamp, value double"
    ev = spark.createDataFrame(rows, schema)
    src = str(tmp_path_factory.mktemp("tws_src"))
    ckpt = str(tmp_path_factory.mktemp("tws_ckpt"))
    # two files -> with maxFilesPerTrigger=1, two micro-batches
    ev.where("event_id < 15").coalesce(1).write.mode("overwrite").parquet(src)
    ev.where("event_id >= 15").coalesce(1).write.mode("append").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            stream_running_totals(stream)
            .writeStream.format("memory")
            .queryName("tws_out")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    out = spark.sql(
        "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY n_events DESC) rn FROM tws_out) WHERE rn = 1"
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["total"]) for r in out}
    exp = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("value").alias("n"), F.round(F.sum("value"), 4).alias("t")
        )
        .collect()
    }
    assert got == exp


def test_running_totals_processor_logic_without_tws_transport():
    """The running-totals FOLD logic asserted directly (r13 VERDICT #8):
    drive the StatefulProcessor against a stub handle/ValueState — the
    cumulative state arithmetic, the count(value) NULL convention, and
    the update-mode changelog emission are all exercised with NO
    protobuf transport, so this runs in every environment (the
    end-to-end TWS test above still covers the runner where
    google.protobuf exists)."""
    import pandas as pd

    from vectorsearch_spark.streaming.rollup import running_totals_processor

    class StubValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    class StubHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            assert name == "totals" and "n_events" in schema
            return self.states.setdefault(name, StubValueState())

    proc = running_totals_processor("user_id", "value")
    handle = StubHandle()
    proc.init(handle)

    def feed(key, batches):
        out = list(proc.handleInputRows(key, iter(batches), None))
        assert len(out) == 1
        r = out[0].iloc[0]
        return int(r["n_events"]), float(r["total"])

    # batch 1: two values + a NULL (contributes to neither count nor sum)
    b1 = pd.DataFrame({"value": [1.0, 2.5, None]})
    assert feed((7,), [b1]) == (2, 3.5)
    assert handle.states["totals"].v == (2, 3.5)
    # batch 2 folds ONTO the persisted state, cumulative emission
    b2a = pd.DataFrame({"value": [4.0]})
    b2b = pd.DataFrame({"value": [None, 0.5]})
    assert feed((7,), [b2a, b2b]) == (4, 8.0)
    assert handle.states["totals"].v == (4, 8.0)
    # an all-NULL batch still emits the (unchanged) running value
    assert feed((7,), [pd.DataFrame({"value": [None]})]) == (4, 8.0)
    proc.close()


def test_stream_rollup_maintenance_and_crash_replay(spark, tmp_path_factory):
    """foreachBatch rollup maintenance: streamed folds == batch
    aggregate; a replayed epoch is skipped (marker rides the atomic
    rename); the rename-gap crash restores from .old."""
    import datetime as dt
    import os

    from vectorsearch_spark.operators.incremental import (
        finalize_rollup,
        fold_rollup_batch,
        maintain_rollup_stream,
        rollup_state,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1 + i % 3, base + dt.timedelta(seconds=i), float(i)) for i in range(30)
    ]
    schema = "event_id long, user_id long, ts timestamp, value double"
    ev = spark.createDataFrame(rows, schema)
    src = str(tmp_path_factory.mktemp("mr_src"))
    ckpt = str(tmp_path_factory.mktemp("mr_ckpt"))
    state = str(tmp_path_factory.mktemp("mr_state_root")) + "/state"
    ev.where("event_id < 10").coalesce(1).write.mode("overwrite").parquet(src)
    ev.where("event_id >= 10").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = maintain_rollup_stream(stream, state, ["user_id"], "value", ckpt)
    q.awaitTermination(120)

    def live():
        return {
            r["user_id"]: (r["n_rows"], r["total"])
            for r in finalize_rollup(spark.read.parquet(state), ["user_id"]).collect()
        }

    exp = {
        r["user_id"]: (r["n_rows"], r["total"])
        for r in finalize_rollup(rollup_state(ev, ["user_id"], "value"), ["user_id"]).collect()
    }
    assert live() == exp

    # exactly-once under replay: re-applying the LAST epoch is a no-op
    last_epoch = __import__("json").load(open(os.path.join(state, "_last_epoch.json")))["epoch"]
    fold_rollup_batch(ev.where("event_id >= 10"), last_epoch, state, ["user_id"], "value")
    assert live() == exp

    # rename-gap crash: state dir gone, .old present -> next fold restores
    os.rename(state, state + ".old")
    fold_rollup_batch(
        ev.where("event_id < 0"), last_epoch + 1, state, ["user_id"], "value"
    )
    assert live() == exp


def test_stream_scd2_maintain_equals_batch_and_survives_replay(
    spark, tmp_path_factory
):
    """Incremental SCD2 maintenance: fold a changelog in three
    micro-batches — including LATE cross-batch rows, one of which
    lands between a collapsed no-op pair (the lossy case a
    dimension-only fold gets wrong) — and the maintained dimension
    must equal the batch changelog_to_scd2 over the full input.
    A replayed epoch is a no-op; a crash between the dim renames
    restores from .old."""
    import datetime as dt
    import json
    import os
    import shutil

    from vectorsearch_spark.operators.events import changelog_to_scd2
    from vectorsearch_spark.operators.incremental import fold_scd2_batch

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    schema = "cust_id long, ts timestamp, tier string, row_id long"
    # key 1: v=gold@0, gold@40 (no-op pair) ... late silver@20 arrives in
    # batch 3 and must SPLIT the pair into three real versions
    b1 = [(1, t(0), "gold", 0), (2, t(5), "bronze", 1), (1, t(40), "gold", 2)]
    b2 = [(2, t(50), "silver", 3), (3, t(55), "gold", 4)]
    b3 = [(1, t(20), "silver", 5), (2, t(45), "bronze", 6)]
    state = str(tmp_path_factory.mktemp("scd2_state")) + "/st"

    for i, rows in enumerate([b1, b2, b3]):
        fold_scd2_batch(
            spark.createDataFrame(rows, schema), i, state, "cust_id",
            ts="ts", tiebreak="row_id",
        )

    def snap(df):
        return sorted(
            (r["cust_id"], r["tier"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in df.collect()
        )

    got = snap(spark.read.parquet(f"{state}/dim").drop("row_id"))
    full = spark.createDataFrame(b1 + b2 + b3, schema)
    exp = snap(changelog_to_scd2(full, "cust_id", ts="ts", tiebreak="row_id").drop("row_id"))
    assert got == exp
    # the late-row case really exercised the lossy path: key 1 has 3 versions
    assert sum(1 for r in got if r[0] == 1) == 3

    # replayed epoch: identical state, no error
    fold_scd2_batch(
        spark.createDataFrame(b3, schema), 2, state, "cust_id",
        ts="ts", tiebreak="row_id",
    )
    assert snap(spark.read.parquet(f"{state}/dim").drop("row_id")) == exp
    # epoch dirs are the append-only history (no rewrite of old epochs)
    assert sorted(os.listdir(f"{state}/changelog")) == [
        "epoch=0", "epoch=1", "epoch=2"
    ]

    # crash between renames: dim missing, .old complete -> next fold restores
    os.rename(f"{state}/dim", f"{state}/dim.old")
    fold_scd2_batch(
        spark.createDataFrame([(4, t(90), "gold", 7)], schema), 3, state,
        "cust_id", ts="ts", tiebreak="row_id",
    )
    got2 = snap(spark.read.parquet(f"{state}/dim").drop("row_id"))
    exp2 = snap(
        changelog_to_scd2(
            spark.createDataFrame(b1 + b2 + b3 + [(4, t(90), "gold", 7)], schema),
            "cust_id", ts="ts", tiebreak="row_id",
        ).drop("row_id")
    )
    assert got2 == exp2


def test_stream_scd2_maintain_streaming_query(spark, tmp_path_factory):
    """The writeStream wrapper end-to-end: two files -> two
    micro-batches via maxFilesPerTrigger, dimension equals batch."""
    import datetime as dt

    from vectorsearch_spark.operators.events import changelog_to_scd2
    from vectorsearch_spark.operators.incremental import stream_scd2_maintain

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    schema = "cust_id long, ts timestamp, tier string, row_id long"
    rows = [(i % 5, t(i), ["a", "b", "c"][i % 3], i) for i in range(30)]
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path_factory.mktemp("scd2_src"))
    df.where("row_id < 15").coalesce(1).write.mode("overwrite").parquet(src)
    df.where("row_id >= 15").coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path_factory.mktemp("scd2_state2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("scd2_ckpt"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_scd2_maintain(stream, state, "cust_id", ckpt, ts="ts", tiebreak="row_id")
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{state}/dim").collect()))
    exp = sorted(
        map(tuple, changelog_to_scd2(df, "cust_id", ts="ts", tiebreak="row_id").collect())
    )
    assert got == exp


def test_stream_dedup_ingest_folds_replay_and_crash(spark, tmp_path_factory):
    """Streaming dedup ingest: 3 micro-batches with (a) verbatim
    duplicates of EARLIER-batch docs (must drop against the persisted
    corpus buckets, never re-shingling corpus text), (b) within-batch
    duplicates (min-id keeper), (c) fresh docs (must survive). The
    folded state must equal a driver-side reference loop running the
    same batch operators sequentially; a replayed epoch is a no-op; a
    crash BEFORE the marker commit replays into identical state (the
    batch cannot collide with its own partial epoch dirs)."""
    import os

    from vectorsearch_spark.operators.dedup import (
        fold_dedup_ingest_batch,
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog and runs far away tonight",
        "pack my box with five dozen liquor jugs before the morning train leaves",
        "sphinx of black quartz judge my vow while the river flows gently north",
        "a completely different document about distributed query engines and joins",
    ]
    b1 = [(i, base[i]) for i in range(4)]
    b2 = [
        (10, base[0]),                       # dup of corpus doc 0 -> drop
        (11, "totally new text about parquet row groups and column pruning at scale"),
        (12, base[1] + " extra"),            # near-dup of corpus doc 1 -> drop
    ]
    b3 = [
        (20, "another novel unique document mentioning adaptive query execution"),
        (21, "another novel unique document mentioning adaptive query execution!"),  # in-batch dup -> drop (21 > 20)
        (22, base[3]),                       # dup of corpus doc 3 -> drop
    ]
    schema = "doc_id long, text string"
    state = str(tmp_path_factory.mktemp("dedup_state")) + "/st"
    os.makedirs(state, exist_ok=True)
    kw = dict(shingle_n=2, num_hashes=16, bands=8, threshold=0.5)

    for i, rows in enumerate([b1, b2, b3]):
        fold_dedup_ingest_batch(spark.createDataFrame(rows, schema), i, state, **kw)

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    )

    # reference loop: the same batch-level operators applied sequentially
    ref_corpus = []
    for rows in [b1, b2, b3]:
        bdf = spark.createDataFrame(rows, schema)
        drop = set()
        if ref_corpus:
            cdf = spark.createDataFrame(ref_corpus, schema)
            for r in incremental_minhash_pairs(bdf, cdf, **kw).collect():
                drop.add(r["batch_id"])
        for r in minhash_lsh_pairs(bdf, **kw).collect():
            drop.add(r["doc_b"])
        ref_corpus += [row for row in rows if row[0] not in drop]
    assert got == sorted(i for i, _ in ref_corpus)
    assert 10 not in got and 12 not in got and 21 not in got and 22 not in got
    assert {0, 1, 2, 3, 11, 20} <= set(got)

    # replayed epoch: no state change, no self-collision
    fold_dedup_ingest_batch(spark.createDataFrame(b3, schema), 2, state, **kw)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    ) == got

    # crash before marker: wipe the marker back to epoch 1 and replay
    # epoch 2 — its own (already written) epoch dirs must be invisible
    # to the replay, landing identical state
    import json

    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_dedup_ingest_batch(spark.createDataFrame(b3, schema), 2, state, **kw)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    ) == got


def test_stream_dedup_ingest_bucketed_band_state(spark, tmp_path_factory):
    """MinHash ingest fold with state_buckets: the buckets substore
    moves to the band_key-clustered layout — same accepted set as the
    plain layout, crash replay intact, and BOTH per-fold O(state)
    operations plan exchange-free over the bucketed scan: the hot-band
    count window and the candidate join on band_key."""
    import json
    import os
    import re

    from pyspark.sql import functions as F

    from vectorsearch_spark.operators.dedup import (
        _cap_band_freq,
        fold_dedup_ingest_batch,
    )
    from vectorsearch_spark.operators.incremental import EpochBucketedState

    base = [
        "the quick brown fox jumps over the lazy dog and runs far away tonight",
        "pack my box with five dozen liquor jugs before the morning train leaves",
        "sphinx of black quartz judge my vow while the river flows gently north",
        "a completely different document about distributed query engines and joins",
    ]
    b1 = [(i, base[i]) for i in range(4)]
    b2 = [
        (10, base[0]),
        (11, "totally new text about parquet row groups and column pruning at scale"),
        (12, base[1] + " extra"),
    ]
    schema = "doc_id long, text string"
    kw = dict(shingle_n=2, num_hashes=16, bands=8, threshold=0.5)

    results = {}
    for mode, buckets in (("plain", None), ("bucketed", 4)):
        state = str(tmp_path_factory.mktemp(f"mh_{mode}")) + "/st"
        os.makedirs(state, exist_ok=True)
        if buckets:
            st = EpochBucketedState(
                spark, state, "buckets",
                "`doc_id` BIGINT, `band_key` STRING", "band_key", buckets,
            )
            spark.sql(f"DROP TABLE IF EXISTS {st.table}")
        for i, rows in enumerate([b1, b2]):
            fold_dedup_ingest_batch(
                spark.createDataFrame(rows, schema), i, state,
                state_buckets=buckets, **kw,
            )
        results[mode] = sorted(
            r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
        )
        if buckets:
            # crash replay with bucketed band state
            with open(f"{state}/_last_epoch.json", "w") as fh:
                json.dump({"epoch": 0}, fh)
            fold_dedup_ingest_batch(
                spark.createDataFrame(b2, schema), 1, state,
                state_buckets=buckets, **kw,
            )
            assert sorted(
                r["doc_id"]
                for r in spark.read.parquet(f"{state}/accepted").collect()
            ) == results[mode]
            # plan: hot-band count window + band_key probe join, no
            # exchange above the bucketed state scan
            old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                state_scan = st.read_before(2)
                capped = _cap_band_freq(state_scan, 5000)
                probe = spark.createDataFrame(
                    [("0|x",), ("1|y",)], "band_key string"
                )
                plan = (
                    probe.join(capped, "band_key", "left_semi")
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
                assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
                assert "Bucketed: true" in plan, plan
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            spark.sql(f"DROP TABLE IF EXISTS {st.table}")
    assert results["plain"] == results["bucketed"]
    assert 10 not in results["plain"] and 12 not in results["plain"]


def test_stream_dedup_ingest_streaming_query(spark, tmp_path_factory):
    """The writeStream wrapper end-to-end: duplicate docs across two
    micro-batches collapse to the first-accepted copy."""
    from vectorsearch_spark.operators.dedup import stream_dedup_ingest

    rows1 = [(1, "some unique document text about spark shuffles and partitions here")]
    rows2 = [
        (2, "some unique document text about spark shuffles and partitions here"),
        (3, "an unrelated fresh document describing bloom filters and semi joins"),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path_factory.mktemp("ded_src"))
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path_factory.mktemp("ded_state")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("ded_ckpt"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_dedup_ingest(stream, state, ckpt, shingle_n=2, threshold=0.5)
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect())
    assert got == [1, 3]


def test_epoch_regression_fails_loudly(spark, tmp_path_factory):
    """A fresh checkpoint dir restarts epoch ids at 0; folding epoch 0
    against state already at epoch 2 must RAISE (silently treating it
    as a replay would drop every future batch), for all three
    epoch-marked folds (dedup ingest, rollup maintenance, SCD2)."""
    import json
    import os

    import pytest

    from vectorsearch_spark.operators.dedup import fold_dedup_ingest_batch
    from vectorsearch_spark.operators.incremental import (
        fold_rollup_batch,
        fold_scd2_batch,
    )

    schema = "doc_id long, text string"
    rows = [(1, "one document about columnar storage formats and encodings")]

    state = str(tmp_path_factory.mktemp("epochreg")) + "/dedup"
    os.makedirs(state, exist_ok=True)
    kw = dict(shingle_n=2, num_hashes=16, bands=8, threshold=0.5)
    fold_dedup_ingest_batch(spark.createDataFrame(rows, schema), 0, state, **kw)
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 2}, fh)
    # exact replay of the committed epoch: silent no-op
    fold_dedup_ingest_batch(spark.createDataFrame(rows, schema), 2, state, **kw)
    with pytest.raises(ValueError, match="epoch regression"):
        fold_dedup_ingest_batch(spark.createDataFrame(rows, schema), 0, state, **kw)

    rstate = str(tmp_path_factory.mktemp("epochreg")) + "/rollup"
    ev = spark.createDataFrame([(1, "a", 2.0)], "k long, g string, v double")
    fold_rollup_batch(ev, 0, rstate, ["g"], "v")
    with open(f"{rstate}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 2}, fh)
    with pytest.raises(ValueError, match="epoch regression"):
        fold_rollup_batch(ev, 1, rstate, ["g"], "v")

    sstate = str(tmp_path_factory.mktemp("epochreg")) + "/scd2"
    ch = spark.createDataFrame([(1, "x", 10)], "id long, attr string, ts long")
    fold_scd2_batch(ch, 0, sstate, "id", ts="ts")
    with open(f"{sstate}/dim/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 2}, fh)
    with pytest.raises(ValueError, match="epoch regression"):
        fold_scd2_batch(ch, 1, sstate, "id", ts="ts")


# every streaming fold: (module, fold, positional args after state_path,
# marker dir under the state dir, argument checks that must run BEFORE
# the replay guard as (bad kwargs, error match))
_FOLDS = [
    ("dedup", "fold_dedup_ingest_batch", (), "", []),
    ("dedup", "fold_passage_dedup_batch", (), "", []),
    ("dedup", "fold_repeated_spans_batch", (), "",
     [({"span_tokens": 1}, "span_tokens")]),
    ("dedup", "fold_line_dedup_batch", (), "", [({"min_docs": 1}, "min_docs")]),
    ("urls", "fold_url_dedup_batch", (), "", []),
    ("sketch", "fold_heavy_hitters_batch", ("text",), "", []),
    ("sketch", "fold_value_histogram_batch", ("v",), "",
     [({"bins": 1}, "bins"), ({"lo": 1.0, "hi": 0.0}, "lo < hi")]),
    ("sketch", "fold_group_value_histogram_batch", ("g", "v"), "",
     [({"bins": 1}, "bins"), ({"lo": 1.0}, "lo < hi")]),
    ("sketch", "fold_distinct_count_batch", ("doc_id",), "",
     [({"lgk": 3}, "lgk"), ({"col": "v"}, "distinct-count sketch")]),
    ("sketch", "fold_group_heavy_hitters_batch", ("g", "text"), "",
     [({"capacity": 0}, "capacity")]),
    ("sketch", "fold_group_distinct_count_batch", ("g", "doc_id"), "",
     [({"lgk": 22}, "lgk"), ({"col": "v"}, "distinct-count sketch")]),
    ("incremental", "fold_rollup_batch", (["g"], "v"), "", []),
    ("incremental", "fold_scd2_batch", ("doc_id",), "dim", []),
]


@pytest.mark.parametrize(
    "module,fold,args,marker_dir,bad_args", _FOLDS, ids=[f[1] for f in _FOLDS]
)
def test_fold_replay_guard(
    spark, tmp_path, module, fold, args, marker_dir, bad_args
):
    """Every fold shares one replay/regression guard: against a state
    whose committed epoch is 2, epoch 2 is a no-op that leaves the state
    dir untouched, epoch 1 raises, and an invalid argument raises even
    on the replayed epoch (argument checks run before the guard). No
    fold body runs, so the replay launches no Spark job."""
    import importlib
    import inspect
    import json
    import os

    from tests.jobs import jobs_launched

    fn = getattr(importlib.import_module(f"vectorsearch_spark.operators.{module}"), fold)
    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, marker_dir))
    with open(os.path.join(state, marker_dir, "_last_epoch.json"), "w") as fh:
        json.dump({"epoch": 2}, fh)

    def listing() -> list:
        return sorted(
            (os.path.relpath(d, state), sorted(fs)) for d, _, fs in os.walk(state)
        ) + sorted(os.listdir(tmp_path))

    batch = spark.createDataFrame(
        [(1, "a b c", "x", 1.0)], "doc_id long, text string, g string, v double"
    )
    before = listing()
    assert jobs_launched(spark, lambda: fn(batch, 2, state, *args)) == (None, 0)
    assert listing() == before
    with pytest.raises(ValueError, match="epoch regression"):
        fn(batch, 1, state, *args)
    for bad, match in bad_args:
        # a bad kwarg may replace one of the positional args
        call = inspect.signature(fn).bind(batch, 2, state, *args)
        call.arguments.update(bad)
        with pytest.raises(ValueError, match=match):
            fn(*call.args, **call.kwargs)
    assert listing() == before


def test_stream_passage_dedup_folds_equal_batch_operator(spark, tmp_path_factory):
    """Streaming passage dedup: 3 micro-batches with cross-batch
    repeated passages — the folded accepted state must be ROW-IDENTICAL
    to running curate.passage_dedup on the concatenated corpus
    (monotone doc_ids make the keep-first orders coincide); a replayed
    epoch is a no-op; a crash before the marker replays into identical
    state; an epoch regression raises; the writeStream wrapper works
    end-to-end."""
    import json
    import os

    import pytest

    from vectorsearch_spark.operators.curate import passage_dedup
    from vectorsearch_spark.operators.dedup import (
        fold_passage_dedup_batch,
        stream_passage_dedup,
    )

    CHUNK = 4
    d = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "iota kappa lam mu nu xi omicron pi",
        2: "alpha beta gamma delta rho sigma tau upsilon",   # chunk0 dups doc0
        3: "iota kappa lam mu nu xi omicron pi",             # full copy of doc1
        4: "phi chi psi omega alef bet gimel dalet",
        5: "phi chi psi omega rho sigma tau upsilon",        # dups doc4 c0 + doc2 c1
    }
    batches = [[0, 1], [2, 3], [4, 5]]
    schema = "doc_id long, text string"
    state = str(tmp_path_factory.mktemp("pdstate")) + "/st"
    os.makedirs(state, exist_ok=True)

    for i, ids in enumerate(batches):
        fold_passage_dedup_batch(
            spark.createDataFrame([(j, d[j]) for j in ids], schema),
            i, state, chunk_tokens=CHUNK,
        )
    cols = ["doc_id", "n_chunks", "n_kept", "kept_hash"]
    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/accepted").select(cols).collect()
    )
    full = spark.createDataFrame(sorted(d.items()), schema)
    ref = sorted(
        tuple(r) for r in passage_dedup(full, chunk_tokens=CHUNK).collect()
    )
    assert got == ref
    by_id = {r[0]: r for r in got}
    assert by_id[3][2] == 0          # full copy: nothing kept
    assert by_id[5][2] == 0          # both chunks dup earlier docs

    # replayed epoch: no-op
    fold_passage_dedup_batch(
        spark.createDataFrame([(j, d[j]) for j in batches[2]], schema),
        2, state, chunk_tokens=CHUNK,
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/accepted").select(cols).collect()
    ) == ref

    # crash before marker: rewind to epoch 1, replay epoch 2 — its own
    # partial dirs must be invisible to the replay
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_passage_dedup_batch(
        spark.createDataFrame([(j, d[j]) for j in batches[2]], schema),
        2, state, chunk_tokens=CHUNK,
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/accepted").select(cols).collect()
    ) == ref

    # epoch regression: fresh checkpoint against old state fails loudly
    with pytest.raises(ValueError, match="epoch regression"):
        fold_passage_dedup_batch(
            spark.createDataFrame([(9, "anything at all here")], schema),
            0, state, chunk_tokens=CHUNK,
        )

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("pdsrc")) + "/docs"
    state2 = str(tmp_path_factory.mktemp("pdstate2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("pdckpt"))
    full.write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_passage_dedup(stream, state2, ckpt, chunk_tokens=CHUNK)
    q.awaitTermination(120)
    got2 = {
        r["doc_id"]: r["n_kept"]
        for r in spark.read.parquet(f"{state2}/accepted").collect()
    }
    # single-batch availableNow load ≡ the batch operator too
    assert got2 == {r[0]: r[2] for r in ref}


def test_fold_dedup_bucketed_state_layouts(spark, tmp_path_factory):
    """EpochBucketedState across the passage and line folds
    (state_buckets mode): results equal the plain layout / batch
    operator, replays and crash-partial partitions behave identically,
    and the SCALE claims are plan-asserted — the passage fold's state
    anti-join exchanges only the batch side, and the line fold's
    prior-keycount aggregation runs with NO exchange at all over the
    bucketed scan."""
    import json
    import os
    import re

    from pyspark.sql import functions as F

    from vectorsearch_spark.operators.curate import passage_dedup
    from vectorsearch_spark.operators.dedup import (
        fold_line_dedup_batch,
        fold_passage_dedup_batch,
        read_line_dedup_state,
    )
    from vectorsearch_spark.operators.incremental import EpochBucketedState

    CHUNK = 4
    d = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "iota kappa lam mu nu xi omicron pi",
        2: "alpha beta gamma delta rho sigma tau upsilon",
        3: "iota kappa lam mu nu xi omicron pi",
        4: "phi chi psi omega alef bet gimel dalet",
        5: "phi chi psi omega rho sigma tau upsilon",
    }
    schema = "doc_id long, text string"
    state = str(tmp_path_factory.mktemp("pdstate_b")) + "/st"
    os.makedirs(state, exist_ok=True)
    st = EpochBucketedState(
        spark, state, "chunks", "`chunk_text` STRING", "chunk_text", 4
    )
    spark.sql(f"DROP TABLE IF EXISTS {st.table}")

    for i, ids in enumerate([[0, 1], [2, 3], [4, 5]]):
        fold_passage_dedup_batch(
            spark.createDataFrame([(j, d[j]) for j in ids], schema),
            i, state, chunk_tokens=CHUNK, state_buckets=4,
        )
    cols = ["doc_id", "n_chunks", "n_kept", "kept_hash"]
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{state}/accepted").select(cols).collect()
    )
    full = spark.createDataFrame(sorted(d.items()), schema)
    ref = sorted(
        tuple(r) for r in passage_dedup(full, chunk_tokens=CHUNK).collect()
    )
    assert got == ref

    # crash-partial partition invisible to its replay
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_passage_dedup_batch(
        spark.createDataFrame([(j, d[j]) for j in [4, 5]], schema),
        2, state, chunk_tokens=CHUNK, state_buckets=4,
    )
    assert sorted(
        tuple(r)
        for r in spark.read.parquet(f"{state}/accepted").select(cols).collect()
    ) == ref

    # plan: state side of the chunk anti-join is a bucketed scan, no
    # exchange; only the probe side hashes
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        seen = st.read_before(3)
        probe = spark.createDataFrame(
            [("alpha beta gamma delta",)], "chunk_text string"
        )
        plan = (
            probe.join(seen, "chunk_text", "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    spark.sql(f"DROP TABLE IF EXISTS {st.table}")

    # line fold: bucketed keycounts — results equal plain mode, and the
    # prior-count aggregation plans with ZERO exchanges
    lines = {
        0: "common line\nunique a",
        1: "common line\nunique b",
        2: "other line\nunique c",
        3: "other line\ncommon line",
    }
    s_plain = str(tmp_path_factory.mktemp("ldstate_p")) + "/st"
    s_buck = str(tmp_path_factory.mktemp("ldstate_b")) + "/st"
    for s, buckets in ((s_plain, None), (s_buck, 4)):
        os.makedirs(s, exist_ok=True)
        if buckets:
            kc = EpochBucketedState(
                spark, s, "keycounts", "`__key` STRING, `__nd_b` BIGINT",
                "__key", buckets,
            )
            spark.sql(f"DROP TABLE IF EXISTS {kc.table}")
        for i, ids in enumerate([[0, 1], [2, 3]]):
            fold_line_dedup_batch(
                spark.createDataFrame([(j, lines[j]) for j in ids], schema),
                i, s, state_buckets=buckets,
            )
    pv = sorted(tuple(r) for r in read_line_dedup_state(spark, s_plain).collect())
    bv = sorted(tuple(r) for r in read_line_dedup_state(spark, s_buck).collect())
    assert pv == bv and len(bv) == 4

    kc = EpochBucketedState(
        spark, s_buck, "keycounts", "`__key` STRING, `__nd_b` BIGINT", "__key", 4
    )
    agg_plan = (
        kc.read_before(2)
        .groupBy("__key")
        .agg(F.sum("__nd_b").alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in agg_plan, agg_plan
    assert "Bucketed: true" in agg_plan, agg_plan
    spark.sql(f"DROP TABLE IF EXISTS {kc.table}")


def test_stream_repeated_spans_folds_equal_batch_operator(spark, tmp_path_factory):
    """Streaming repeated-span dedup: 3 micro-batches with cross-batch
    repeats at ARBITRARY offsets — the folded span state must be
    ROW-IDENTICAL to curate.repeated_spans on the concatenated corpus
    (monotone doc_ids align the keep-first orders); replayed epoch is a
    no-op; crash-before-marker replays into identical state; epoch
    regression raises; the writeStream wrapper works end-to-end."""
    import json
    import os

    import pytest

    from vectorsearch_spark.operators.curate import repeated_spans
    from vectorsearch_spark.operators.dedup import (
        fold_repeated_spans_batch,
        stream_repeated_spans,
    )

    SPAN = 6
    words = [f"w{i}" for i in range(30)]
    d = {
        0: " ".join(words),                                   # original
        1: " ".join(f"q{i}" for i in range(12)),              # unique
        2: "lead in " + " ".join(words[5:20]) + " tail out",  # unaligned copy of doc0
        3: " ".join(words),                                   # full copy of doc0
        4: " ".join(f"z{i}" for i in range(14)),              # unique
        5: " ".join(f"q{i}" for i in range(12)),              # full copy of doc1
    }
    batches = [[0, 1], [2, 3], [4, 5]]
    schema = "doc_id long, text string"
    state = str(tmp_path_factory.mktemp("rsstate")) + "/st"
    os.makedirs(state, exist_ok=True)

    for i, ids in enumerate(batches):
        fold_repeated_spans_batch(
            spark.createDataFrame([(j, d[j]) for j in ids], schema),
            i, state, span_tokens=SPAN,
        )
    cols = ["doc_id", "n_tokens", "dup_spans", "dup_tokens", "dup_ratio"]
    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/spans").select(cols).collect()
    )
    full = spark.createDataFrame(sorted(d.items()), schema)
    ref = sorted(tuple(r) for r in repeated_spans(full, span_tokens=SPAN).collect())
    assert got == ref
    by_id = {r[0]: r for r in got}
    assert by_id[3][3] == by_id[3][1]      # full copy: everything marked
    assert by_id[2][2] == 1 and by_id[2][3] > 0   # unaligned run: one span
    assert by_id[4][3] == 0                # unique doc untouched

    # replayed epoch: no-op
    fold_repeated_spans_batch(
        spark.createDataFrame([(j, d[j]) for j in batches[2]], schema),
        2, state, span_tokens=SPAN,
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/spans").select(cols).collect()
    ) == ref

    # crash before marker: rewind to epoch 1, replay epoch 2
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_repeated_spans_batch(
        spark.createDataFrame([(j, d[j]) for j in batches[2]], schema),
        2, state, span_tokens=SPAN,
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/spans").select(cols).collect()
    ) == ref

    # epoch regression raises
    with pytest.raises(ValueError, match="epoch regression"):
        fold_repeated_spans_batch(
            spark.createDataFrame([(9, "anything at all here")], schema),
            0, state, span_tokens=SPAN,
        )

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("rssrc")) + "/docs"
    state2 = str(tmp_path_factory.mktemp("rsstate2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("rsckpt"))
    full.write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_repeated_spans(stream, state2, ckpt, span_tokens=SPAN)
    q.awaitTermination(120)
    got2 = {
        r["doc_id"]: r["dup_tokens"]
        for r in spark.read.parquet(f"{state2}/spans").collect()
    }
    assert got2 == {r[0]: r[3] for r in ref}


def test_stream_line_dedup_folds_equal_batch_operator(spark, tmp_path_factory):
    """Streaming line dedup: unlike the keep-first folds, the
    boilerplate predicate is GLOBAL (≥ min_docs distinct docs), so a
    later batch must retroactively REVISE earlier docs' rows — doc 0's
    'nav menu' line is unique in batch 0 and only becomes boilerplate
    when doc 2 arrives in batch 1. The folded view (latest row per
    doc) must be row-identical to curate.line_dedup on the
    concatenated corpus; replayed epoch is a no-op; crash-before-marker
    replays into identical state; epoch regression raises; the
    writeStream wrapper works end-to-end."""
    import json
    import os

    import pytest

    from vectorsearch_spark.operators.curate import line_dedup
    from vectorsearch_spark.operators.dedup import (
        fold_line_dedup_batch,
        read_line_dedup_state,
        stream_line_dedup,
    )

    d = {
        0: "nav menu\nunique alpha\nfooter",
        1: "solo beta\nlone gamma",
        2: "nav menu\nunique delta\nfooter",     # flips doc 0's chrome
        3: "solo beta\nfresh epsilon",           # flips doc 1's first line
        4: "unique zeta\n\nnav menu",            # already-boiler key + blank
        5: "totally original lines only",
    }
    batches = [[0, 1], [2, 3], [4, 5]]
    schema = "doc_id long, text string"
    state = str(tmp_path_factory.mktemp("ldstate")) + "/st"
    os.makedirs(state, exist_ok=True)

    for i, ids in enumerate(batches):
        fold_line_dedup_batch(
            spark.createDataFrame([(j, d[j]) for j in ids], schema), i, state
        )
    cols = ["doc_id", "n_lines", "n_kept", "n_boiler", "kept_hash"]
    got = sorted(
        tuple(r) for r in read_line_dedup_state(spark, state).select(cols).collect()
    )
    full = spark.createDataFrame(sorted(d.items()), schema)
    ref = sorted(tuple(r) for r in line_dedup(full).select(cols).collect())
    assert got == ref
    by_id = {r[0]: r for r in got}
    assert by_id[0][3] == 2  # nav menu + footer flipped retroactively
    assert by_id[1][3] == 1  # solo beta flipped by doc 3
    # the revision rows live in LATER epochs than the docs' arrival
    spans0 = spark.read.parquet(f"{state}/spans/epoch=1")
    assert spans0.where(F.col("doc_id").isin(0, 1)).count() == 2

    # replayed epoch: no-op
    fold_line_dedup_batch(
        spark.createDataFrame([(j, d[j]) for j in batches[2]], schema), 2, state
    )
    assert sorted(
        tuple(r) for r in read_line_dedup_state(spark, state).select(cols).collect()
    ) == ref

    # crash before marker: rewind to epoch 1, replay epoch 2 — its own
    # partial dirs must be invisible to the replay
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_line_dedup_batch(
        spark.createDataFrame([(j, d[j]) for j in batches[2]], schema), 2, state
    )
    assert sorted(
        tuple(r) for r in read_line_dedup_state(spark, state).select(cols).collect()
    ) == ref

    # epoch regression raises
    with pytest.raises(ValueError, match="epoch regression"):
        fold_line_dedup_batch(
            spark.createDataFrame([(9, "x\ny")], schema), 0, state
        )

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("ldsrc")) + "/docs"
    state2 = str(tmp_path_factory.mktemp("ldstate2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("ldckpt"))
    full.write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_line_dedup(stream, state2, ckpt)
    q.awaitTermination(120)
    got2 = sorted(
        tuple(r)
        for r in read_line_dedup_state(spark, state2).select(cols).collect()
    )
    assert got2 == ref


def test_read_line_dedup_state_ignores_uncommitted_epoch(spark, tmp_path_factory):
    """A crashed fold's partially-written spans dir (no marker commit)
    must be invisible to EXTERNAL readers too, not only to the replay
    (ADVICE r8): the reader loads the committed epoch from
    _last_epoch.json and reads only dirs at or below it."""
    import os
    import shutil

    from vectorsearch_spark.operators.dedup import (
        fold_line_dedup_batch,
        read_line_dedup_state,
    )

    schema = "doc_id long, text string"
    state = str(tmp_path_factory.mktemp("ldcrash")) + "/st"
    os.makedirs(state, exist_ok=True)
    fold_line_dedup_batch(
        spark.createDataFrame([(0, "aa\nbb"), (1, "aa\ncc")], schema), 0, state
    )
    cols = ["doc_id", "n_lines", "n_kept", "n_boiler", "kept_hash"]
    ref = sorted(
        tuple(r) for r in read_line_dedup_state(spark, state).select(cols).collect()
    )
    # simulate crash mid-epoch-1: spans dir exists with bogus revisions,
    # marker still points at epoch 0
    src = os.path.join(state, "spans", "epoch=0")
    dst = os.path.join(state, "spans", "epoch=1")
    shutil.copytree(src, dst)
    spark.createDataFrame(
        [(0, 99, 99, 99, "BOGUS")],
        "doc_id long, n_lines long, n_kept long, n_boiler long, kept_hash string",
    ).coalesce(1).write.mode("overwrite").parquet(dst)
    got = sorted(
        tuple(r) for r in read_line_dedup_state(spark, state).select(cols).collect()
    )
    assert got == ref

    import pytest

    empty_state = str(tmp_path_factory.mktemp("ldempty")) + "/st"
    os.makedirs(empty_state, exist_ok=True)
    with pytest.raises(ValueError, match="no committed epoch"):
        read_line_dedup_state(spark, empty_state)
