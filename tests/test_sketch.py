"""Misra–Gries heavy hitters: exactness vs a full groupBy count when
the certificate holds (with capacity < vocabulary, so the summaries
really prune), a loud ValueError when it cannot hold, and the fold's
undercount bound."""

import pytest
from pyspark.sql import functions as F


def _skewed_df(spark):
    """Zipf-ish corpus: head item i (0..9) appears 2^(10-i) times,
    plus 300 singleton tail items — vocab 310, total 2346."""
    rows = []
    for i in range(10):
        rows += [(f"head{i}",)] * (1 << (10 - i))
    rows += [(f"tail{j:03d}",) for j in range(300)]
    return spark.createDataFrame(rows, "item string").repartition(8)


def test_heavy_hitters_exact_while_summaries_prune(spark):
    from vectorsearch_spark.operators.sketch import heavy_hitters

    df = _skewed_df(spark)
    # capacity 64 << 310 vocab: per-partition summaries must prune,
    # yet head counts far exceed N/(cap+1) = 2346/65 ≈ 36
    got = [tuple(r) for r in heavy_hitters(df, "item", k=5, capacity=64).collect()]
    exact = (
        df.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item"))
        .limit(5)
        .collect()
    )
    assert got == [(r["item"], r["cnt"], i + 1) for i, r in enumerate(exact)]


def test_heavy_hitters_raises_when_not_certifiable(spark):
    from vectorsearch_spark.operators.sketch import heavy_hitters

    # uniform: every item appears 4 times, capacity tiny — the k-th
    # count can never beat N/(capacity+1), must raise, never return an
    # unverifiable top-k
    rows = [(f"u{j:03d}",) for j in range(200) for _ in range(4)]
    df = spark.createDataFrame(rows, "item string").repartition(8)
    with pytest.raises(ValueError, match="exactness bound"):
        heavy_hitters(df, "item", k=5, capacity=8)
    # ample capacity certifies the same data fine
    got = heavy_hitters(df, "item", k=5, capacity=1024).collect()
    assert [r["cnt"] for r in got] == [4] * 5
    assert [r["item"] for r in got] == [f"u{j:03d}" for j in range(5)]


def test_heavy_hitters_tie_order_and_validation(spark):
    from vectorsearch_spark.operators.sketch import heavy_hitters

    rows = [("b",)] * 3 + [("a",)] * 3 + [("c",)] * 5
    df = spark.createDataFrame(rows, "item string")
    got = [tuple(r) for r in heavy_hitters(df, "item", k=3, capacity=16).collect()]
    assert got == [("c", 5, 1), ("a", 3, 2), ("b", 3, 3)]  # ties by item asc
    with pytest.raises(ValueError, match="k must be"):
        heavy_hitters(df, "item", k=0)
    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(df, "item", k=8, capacity=4)
    empty = spark.createDataFrame([], "item string")
    with pytest.raises(ValueError, match="empty"):
        heavy_hitters(empty, "item", k=1, capacity=8)


def test_mg_fold_undercount_bound():
    """The mergeable-summaries fold: estimates only UNDERCOUNT, by at
    most total/(capacity+1)."""
    import random

    from vectorsearch_spark.operators.sketch import _mg_fold

    rng = random.Random(7)
    truth: dict = {}
    counters: dict = {}
    cap = 16
    total = 0
    for _ in range(50):
        batch: dict = {}
        for _ in range(40):
            item = f"i{rng.randrange(60)}"
            batch[item] = batch.get(item, 0) + 1
            truth[item] = truth.get(item, 0) + 1
            total += 1
        counters = _mg_fold(counters, batch, cap)
    assert len(counters) <= cap
    for item, est in counters.items():
        assert est <= truth[item]
        assert truth[item] - est <= total / (cap + 1)


def test_stream_heavy_hitters_bounds_and_exactly_once(spark, tmp_path_factory):
    """Streaming MG fold: after folding 3 batches, every summary
    estimate satisfies est ≤ true ≤ est + total/(cap+1), every item
    with true count > total/(cap+1) IS in the summary, a replayed
    epoch is a no-op, crash-before-marker replays into identical
    state, epoch regression raises, capacity drift raises, and the
    writeStream wrapper works end-to-end."""
    import json
    import os
    from collections import Counter

    from vectorsearch_spark.operators.sketch import (
        fold_heavy_hitters_batch,
        read_heavy_hitters_state,
        stream_heavy_hitters,
    )

    CAP = 8
    batches = [
        ["a"] * 40 + ["b"] * 10 + [f"t{j}" for j in range(20)],
        ["a"] * 30 + ["c"] * 25 + [f"u{j}" for j in range(20)],
        ["b"] * 35 + ["a"] * 5 + [f"v{j}" for j in range(20)],
    ]
    truth: Counter = Counter()
    state = str(tmp_path_factory.mktemp("hhstate")) + "/st"
    os.makedirs(state, exist_ok=True)
    for i, items in enumerate(batches):
        truth.update(items)
        fold_heavy_hitters_batch(
            spark.createDataFrame([(x,) for x in items], "item string"),
            i, state, "item", capacity=CAP,
        )
    total = sum(truth.values())
    out = {r["item"]: r for r in read_heavy_hitters_state(spark, state, k=CAP).collect()}
    bound = total / (CAP + 1)
    for item, r in out.items():
        assert r["est"] <= truth[item] <= r["ub"]
        assert r["lb"] == r["est"]
    # guarantee: anything truly above the bound survives the merges
    for item, c in truth.items():
        if c > bound:
            assert item in out, (item, c, bound)

    ref = sorted((r["item"], r["est"]) for r in out.values())
    # replay no-op
    fold_heavy_hitters_batch(
        spark.createDataFrame([(x,) for x in batches[2]], "item string"),
        2, state, "item", capacity=CAP,
    )
    assert sorted(
        (r["item"], r["est"])
        for r in read_heavy_hitters_state(spark, state, k=CAP).collect()
    ) == ref
    # crash before marker: rewind and replay epoch 2 — identical state
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_heavy_hitters_batch(
        spark.createDataFrame([(x,) for x in batches[2]], "item string"),
        2, state, "item", capacity=CAP,
    )
    assert sorted(
        (r["item"], r["est"])
        for r in read_heavy_hitters_state(spark, state, k=CAP).collect()
    ) == ref

    import pytest

    with pytest.raises(ValueError, match="epoch regression"):
        fold_heavy_hitters_batch(
            spark.createDataFrame([("z",)], "item string"), 0, state, "item",
            capacity=CAP,
        )
    with pytest.raises(ValueError, match="capacity"):
        fold_heavy_hitters_batch(
            spark.createDataFrame([("z",)], "item string"), 3, state, "item",
            capacity=CAP * 2,
        )

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("hhsrc")) + "/items"
    state2 = str(tmp_path_factory.mktemp("hhstate2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("hhckpt"))
    all_items = [x for b in batches for x in b]
    spark.createDataFrame([(x,) for x in all_items], "item string").write.parquet(src_dir)
    stream = spark.readStream.schema("item string").parquet(src_dir)
    q = stream_heavy_hitters(stream, state2, ckpt, "item", capacity=CAP)
    q.awaitTermination(120)
    out2 = {r["item"]: r for r in read_heavy_hitters_state(spark, state2, k=CAP).collect()}
    for item, r in out2.items():
        assert r["est"] <= truth[item] <= r["ub"]


def test_heavy_hitters_tree_merge_high_partition_count(spark):
    """Forced tree merge (256 partitions, fanout 4 → multi-level):
    exactness and the certificate must survive the intermediate merges,
    matching both the full groupBy count and the no-merge result."""
    from vectorsearch_spark.operators.sketch import heavy_hitters

    df = _skewed_df(spark).repartition(256)
    got = [
        tuple(r)
        for r in heavy_hitters(df, "item", k=5, capacity=64, merge_fanout=4).collect()
    ]
    exact = (
        df.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item"))
        .limit(5)
        .collect()
    )
    assert got == [(r["item"], r["cnt"], i + 1) for i, r in enumerate(exact)]
    # and identical to the wide-fanout (no intermediate merge) path
    wide = [
        tuple(r)
        for r in heavy_hitters(df, "item", k=5, capacity=64, merge_fanout=512).collect()
    ]
    assert got == wide


def test_fold_tree_merge_preserves_bounds(spark, tmp_path_factory):
    """The streaming fold with a forced tree merge keeps the MG bound
    est ≤ true ≤ est + total/(cap+1) and the superset guarantee."""
    import os
    from collections import Counter

    from vectorsearch_spark.operators.sketch import (
        fold_heavy_hitters_batch,
        read_heavy_hitters_state,
    )

    CAP = 8
    items = ["a"] * 50 + ["b"] * 30 + [f"t{j}" for j in range(40)]
    truth = Counter(items)
    state = str(tmp_path_factory.mktemp("hhtree")) + "/st"
    os.makedirs(state, exist_ok=True)
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(64)
    fold_heavy_hitters_batch(df, 0, state, "item", capacity=CAP, merge_fanout=4)
    out = {r["item"]: r for r in read_heavy_hitters_state(spark, state, k=CAP).collect()}
    total = sum(truth.values())
    bound = total / (CAP + 1)
    for item, r in out.items():
        assert r["est"] <= truth[item] <= r["ub"]
    for item, c in truth.items():
        if c > bound:
            assert item in out, (item, c, bound)


def test_read_heavy_hitters_state_ignores_uncommitted_epoch(spark, tmp_path_factory):
    """A crashed fold's partially-written epoch dir (no marker commit)
    must be invisible to external readers — they read the COMMITTED
    epoch, not the max dir on disk."""
    import os

    from vectorsearch_spark.operators.sketch import (
        fold_heavy_hitters_batch,
        read_heavy_hitters_state,
    )

    state = str(tmp_path_factory.mktemp("hhcrash")) + "/st"
    os.makedirs(state, exist_ok=True)
    fold_heavy_hitters_batch(
        spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "item string"),
        0, state, "item", capacity=8,
    )
    ref = sorted(
        (r["item"], r["est"])
        for r in read_heavy_hitters_state(spark, state, k=8).collect()
    )
    # simulate a crash mid-epoch-1: data dir written, marker NOT updated
    import shutil

    src = os.path.join(state, "summary", "epoch=0")
    dst = os.path.join(state, "summary", "epoch=1")
    shutil.copytree(src, dst)
    # corrupt the copied dir's content to make accidental reads obvious
    spark.createDataFrame(
        [("ZZZ", 999, 999, 8)], "item string, est long, total long, capacity int"
    ).coalesce(1).write.mode("overwrite").parquet(dst)
    got = sorted(
        (r["item"], r["est"])
        for r in read_heavy_hitters_state(spark, state, k=8).collect()
    )
    assert got == ref

    import pytest

    empty_state = str(tmp_path_factory.mktemp("hhempty")) + "/st"
    os.makedirs(empty_state, exist_ok=True)
    with pytest.raises(ValueError, match="no committed epoch"):
        read_heavy_hitters_state(spark, empty_state, k=8)


def _exact_q(vals, p):
    import math

    s = sorted(vals)
    return s[max(1, math.ceil(p * len(s))) - 1]


def test_quantile_fold_bounds_and_exactly_once(spark, tmp_path_factory):
    """Streaming quantile histogram (adaptive mode): after 3 folds,
    every requested quantile's exact value lies in [lb, ub]; replayed
    epoch is a no-op; crash-before-marker replays into identical
    state; epoch regression and config drift raise; the writeStream
    wrapper works end-to-end."""
    import json
    import os
    import random

    import pytest

    from vectorsearch_spark.operators.sketch import (
        fold_value_histogram_batch,
        read_quantile_state,
        stream_value_histogram,
    )

    rng = random.Random(5)
    batches = [
        [round(rng.gauss(50, 15), 3) for _ in range(400)],
        [round(rng.uniform(0, 200), 3) for _ in range(300)],
        [round(rng.gauss(120, 5), 3) for _ in range(300)],
    ]
    state = str(tmp_path_factory.mktemp("vq")) + "/st"
    os.makedirs(state, exist_ok=True)
    allv = []
    for i, vals in enumerate(batches):
        allv += vals
        fold_value_histogram_batch(
            spark.createDataFrame([(v,) for v in vals], "value double"),
            i, state, "value", bins=64,
        )
    probs = [0.1, 0.5, 0.9, 0.99, 1.0]
    got = {r["p"]: r for r in read_quantile_state(spark, state, probs).collect()}
    assert set(got) == set(probs)
    for p in probs:
        truth = _exact_q(allv, p)
        r = got[p]
        assert r["lb"] <= truth <= r["ub"], (p, truth, dict(r.asDict()))
        assert r["value"] == r["ub"]

    ref = sorted(tuple(r) for r in read_quantile_state(spark, state, probs).collect())
    # replay no-op
    fold_value_histogram_batch(
        spark.createDataFrame([(v,) for v in batches[2]], "value double"),
        2, state, "value", bins=64,
    )
    assert sorted(
        tuple(r) for r in read_quantile_state(spark, state, probs).collect()
    ) == ref
    # crash before marker: rewind, replay — identical
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 1}, fh)
    fold_value_histogram_batch(
        spark.createDataFrame([(v,) for v in batches[2]], "value double"),
        2, state, "value", bins=64,
    )
    assert sorted(
        tuple(r) for r in read_quantile_state(spark, state, probs).collect()
    ) == ref

    with pytest.raises(ValueError, match="epoch regression"):
        fold_value_histogram_batch(
            spark.createDataFrame([(1.0,)], "value double"), 0, state, "value",
            bins=64,
        )
    with pytest.raises(ValueError, match="bins"):
        fold_value_histogram_batch(
            spark.createDataFrame([(1.0,)], "value double"), 3, state, "value",
            bins=128,
        )

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("vqsrc")) + "/vals"
    state2 = str(tmp_path_factory.mktemp("vqstate2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("vqckpt"))
    spark.createDataFrame([(v,) for v in allv], "value double").write.parquet(src_dir)
    stream = spark.readStream.schema("value double").parquet(src_dir)
    q = stream_value_histogram(stream, state2, ckpt, "value", bins=64)
    q.awaitTermination(120)
    got2 = {r["p"]: r for r in read_quantile_state(spark, state2, probs).collect()}
    for p in probs:
        truth = _exact_q(allv, p)
        assert got2[p]["lb"] <= truth <= got2[p]["ub"]


def test_quantile_fold_adaptive_regrid_exact(spark, tmp_path_factory):
    """A later batch 1000× outside the first batch's range forces the
    adaptive grid to double repeatedly; re-gridding persisted counts is
    exact (power-of-two pair merging), so bounds still contain the
    truth, the state stays ≤ bins rows, and NaN/null are excluded."""
    import os

    from vectorsearch_spark.operators.sketch import (
        fold_value_histogram_batch,
        read_quantile_state,
    )

    state = str(tmp_path_factory.mktemp("vqgrow")) + "/st"
    os.makedirs(state, exist_ok=True)
    b0 = [i / 100.0 for i in range(200)]           # [0, 2)
    b1 = [1000.0 + i * 7.0 for i in range(200)]    # [1000, 2400)
    b2 = [-500.0 + i * 3.0 for i in range(100)]    # negatives
    fold_value_histogram_batch(
        spark.createDataFrame([(v,) for v in b0], "value double"),
        0, state, "value", bins=32,
    )
    fold_value_histogram_batch(
        spark.createDataFrame(
            [(v,) for v in b1] + [(None,), (float("nan"),)], "value double"
        ),
        1, state, "value", bins=32,
    )
    fold_value_histogram_batch(
        spark.createDataFrame([(v,) for v in b2], "value double"),
        2, state, "value", bins=32,
    )
    allv = b0 + b1 + b2
    probs = [0.05, 0.5, 0.95]
    got = {r["p"]: r for r in read_quantile_state(spark, state, probs).collect()}
    for p in probs:
        truth = _exact_q(allv, p)
        assert got[p]["lb"] <= truth <= got[p]["ub"], (p, truth)
    # state bounded: ≤ bins count rows + 1 meta row in the committed dir
    rows = spark.read.parquet(f"{state}/hist/epoch=2").collect()
    assert len(rows) <= 33


def test_quantile_fold_fixed_range_clamps_honestly(spark, tmp_path_factory):
    """Fixed-range mode: out-of-range values clamp into edge bins whose
    bounds widen to the exact observed gmin/gmax — the truth stays
    inside [lb, ub] even for quantiles landing in clamped bins; range
    drift across folds raises."""
    import os

    import pytest

    from vectorsearch_spark.operators.sketch import (
        fold_value_histogram_batch,
        read_quantile_state,
    )

    state = str(tmp_path_factory.mktemp("vqfix")) + "/st"
    os.makedirs(state, exist_ok=True)
    vals = [-50.0, -10.0] + [float(i) for i in range(100)] + [500.0, 900.0]
    fold_value_histogram_batch(
        spark.createDataFrame([(v,) for v in vals], "value double"),
        0, state, "value", bins=10, lo=0.0, hi=100.0,
    )
    probs = [0.01, 0.5, 0.99, 1.0]
    got = {r["p"]: r for r in read_quantile_state(spark, state, probs).collect()}
    for p in probs:
        truth = _exact_q(vals, p)
        assert got[p]["lb"] <= truth <= got[p]["ub"], (p, truth)
    assert got[1.0]["ub"] == 900.0   # top clamped bin widens to gmax
    assert got[0.01]["lb"] == -50.0  # bottom clamped bin widens to gmin
    with pytest.raises(ValueError, match="fixed range"):
        fold_value_histogram_batch(
            spark.createDataFrame([(1.0,)], "value double"),
            1, state, "value", bins=10, lo=0.0, hi=200.0,
        )


def test_group_quantile_fold_bounds_and_independence(spark, tmp_path_factory):
    """Per-group quantile fold: every group's exact quantiles lie in
    [lb, ub]; adaptive widths evolve INDEPENDENTLY (a group whose range
    explodes coarsens only itself — the tight group keeps tight
    bounds); a group first seen in epoch 1 works; NULL groups are
    excluded; replay and crash-before-marker replay are identical."""
    import json
    import os
    import random

    from vectorsearch_spark.operators.sketch import (
        fold_group_value_histogram_batch,
        read_group_quantile_state,
        stream_group_value_histogram,
    )

    rng = random.Random(9)
    tight0 = [round(rng.uniform(10, 11), 4) for _ in range(300)]
    wide0 = [round(rng.uniform(0, 100), 3) for _ in range(300)]
    tight1 = [round(rng.uniform(10, 11), 4) for _ in range(200)]
    wide1 = [round(rng.uniform(0, 1e6), 1) for _ in range(200)]  # explodes
    late1 = [float(i) for i in range(100)]                       # new group
    b0 = [("t", v) for v in tight0] + [("w", v) for v in wide0]
    b1 = (
        [("t", v) for v in tight1]
        + [("w", v) for v in wide1]
        + [("late", v) for v in late1]
        + [(None, 123.0)]  # null group: excluded
    )
    state = str(tmp_path_factory.mktemp("vgq")) + "/st"
    os.makedirs(state, exist_ok=True)
    schema = "g string, value double"
    fold_group_value_histogram_batch(
        spark.createDataFrame(b0, schema), 0, state, "g", "value", bins=64
    )
    fold_group_value_histogram_batch(
        spark.createDataFrame(b1, schema), 1, state, "g", "value", bins=64
    )
    probs = [0.5, 0.9, 1.0]
    got = {
        (r["group"], r["p"]): r
        for r in read_group_quantile_state(spark, state, probs).collect()
    }
    truth = {"t": tight0 + tight1, "w": wide0 + wide1, "late": late1}
    assert {g for g, _ in got} == set(truth)
    for g, vals in truth.items():
        for p in probs:
            tv = _exact_q(vals, p)
            r = got[(g, p)]
            assert r["lb"] <= tv <= r["ub"], (g, p, tv, dict(r.asDict()))
    # independence: the tight group's bin width stays ≤ its own span/bins
    # grid (≈0.016), untouched by w's 1e6 explosion
    t_mid = got[("t", 0.5)]
    assert t_mid["ub"] - t_mid["lb"] < 0.1

    ref = sorted(
        tuple(r) for r in read_group_quantile_state(spark, state, probs).collect()
    )
    # replay no-op
    fold_group_value_histogram_batch(
        spark.createDataFrame(b1, schema), 1, state, "g", "value", bins=64
    )
    assert sorted(
        tuple(r) for r in read_group_quantile_state(spark, state, probs).collect()
    ) == ref
    # crash before marker: rewind, replay — identical
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 0}, fh)
    fold_group_value_histogram_batch(
        spark.createDataFrame(b1, schema), 1, state, "g", "value", bins=64
    )
    assert sorted(
        tuple(r) for r in read_group_quantile_state(spark, state, probs).collect()
    ) == ref

    import pytest

    with pytest.raises(ValueError, match="bins"):
        fold_group_value_histogram_batch(
            spark.createDataFrame([("t", 1.0)], schema), 2, state, "g", "value",
            bins=32,
        )

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("vgqsrc")) + "/vals"
    state2 = str(tmp_path_factory.mktemp("vgqstate2")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("vgqckpt"))
    spark.createDataFrame(b0 + b1, schema).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_group_value_histogram(stream, state2, ckpt, "g", "value", bins=64)
    q.awaitTermination(120)
    got2 = {
        (r["group"], r["p"]): r
        for r in read_group_quantile_state(spark, state2, probs).collect()
    }
    for g, vals in truth.items():
        for p in probs:
            tv = _exact_q(vals, p)
            assert got2[(g, p)]["lb"] <= tv <= got2[(g, p)]["ub"]


def test_heavy_hitters_fold_exact_at_degenerate_capacity(spark, tmp_path_factory):
    """capacity ≥ N ⇒ a Misra–Gries summary can never trim, so the
    folded est is the EXACT count for every item and ub == est (the
    mergeable bound floor(N/(cap+1)) = 0) — the invariant the oracled
    stream_token_heavy_hitters_exact entry relies on."""
    import os
    import random
    from collections import Counter

    from vectorsearch_spark.operators.sketch import (
        fold_heavy_hitters_batch,
        read_heavy_hitters_state,
    )

    rng = random.Random(17)
    vocab = [f"w{i:02d}" for i in range(40)]
    e0 = [vocab[min(rng.randrange(40), rng.randrange(40))] for _ in range(2500)]
    e1 = [vocab[min(rng.randrange(40), rng.randrange(40))] for _ in range(1500)]
    truth = Counter(e0) + Counter(e1)
    n = len(e0) + len(e1)
    state = str(tmp_path_factory.mktemp("hhx")) + "/st"
    os.makedirs(state, exist_ok=True)
    fold_heavy_hitters_batch(
        spark.createDataFrame([(w,) for w in e0], "item string"), 0, state,
        "item", capacity=n,
    )
    fold_heavy_hitters_batch(
        spark.createDataFrame([(w,) for w in e1], "item string"), 1, state,
        "item", capacity=n,
    )
    got = read_heavy_hitters_state(spark, state, k=len(truth)).collect()
    assert len(got) == len(truth)
    for r in got:
        assert r["est"] == truth[r["item"]], (r, truth[r["item"]])
        assert r["lb"] == r["est"] == r["ub"]  # bound term floors to 0
    # ranking is (est DESC, item ASC)
    ranked = sorted(truth.items(), key=lambda t: (-t[1], t[0]))
    assert [(r["item"], r["est"]) for r in sorted(got, key=lambda r: r["rank"])] \
        == ranked


def test_distinct_count_fold(spark, tmp_path_factory):
    """HLL distinct-count fold: exact in the sparse range across
    overlapping epochs (the oracle regime); NULLs excluded; replay
    no-op and crash-before-marker replay identical; lgk drift raises;
    the estimate regime stays within the documented relative error at
    20k distinct; writeStream wrapper end-to-end."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from vectorsearch_spark.operators.sketch import (
        fold_distinct_count_batch,
        read_distinct_count_state,
        stream_distinct_count,
    )

    state = str(tmp_path_factory.mktemp("dc")) + "/st"
    os.makedirs(state, exist_ok=True)
    # epoch 0: users 0..899; epoch 1: users 600..1499 (overlap 600..899)
    e0 = spark.range(3000).select((F.col("id") % 900).alias("u"))
    e1 = spark.range(3000).select((F.col("id") % 900 + 600).alias("u")).union(
        spark.createDataFrame([(None,)], "u long")  # NULL: excluded
    )
    fold_distinct_count_batch(e0, 0, state, "u", lgk=14)
    fold_distinct_count_batch(e1, 1, state, "u", lgk=14)
    r = read_distinct_count_state(spark, state).collect()[0]
    assert (r["n_distinct"], r["total"]) == (1500, 6000)

    ref = (r["n_distinct"], r["total"])
    fold_distinct_count_batch(e1, 1, state, "u", lgk=14)  # replay no-op
    r = read_distinct_count_state(spark, state).collect()[0]
    assert (r["n_distinct"], r["total"]) == ref
    # crash before marker: rewind, replay — identical
    with open(f"{state}/_last_epoch.json", "w") as fh:
        json.dump({"epoch": 0}, fh)
    fold_distinct_count_batch(e1, 1, state, "u", lgk=14)
    r = read_distinct_count_state(spark, state).collect()[0]
    assert (r["n_distinct"], r["total"]) == ref

    with pytest.raises(ValueError, match="lgk"):
        fold_distinct_count_batch(e0, 2, state, "u", lgk=12)

    # estimate regime: 20k distinct at lgk=12 → |err| ≤ 4·1.04/sqrt(2^12)
    st2 = str(tmp_path_factory.mktemp("dc2")) + "/st"
    os.makedirs(st2, exist_ok=True)
    big = spark.range(60000).select((F.col("id") % 20000).alias("u"))
    fold_distinct_count_batch(big, 0, st2, "u", lgk=12)
    r = read_distinct_count_state(spark, st2).collect()[0]
    assert abs(r["n_distinct"] - 20000) / 20000 < 4 * 1.04 / (2**12) ** 0.5
    assert r["total"] == 60000

    # writeStream wrapper end-to-end on a fresh state
    src_dir = str(tmp_path_factory.mktemp("dcsrc")) + "/vals"
    st3 = str(tmp_path_factory.mktemp("dcstate3")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("dcckpt"))
    e0.union(e1).write.parquet(src_dir)
    stream = spark.readStream.schema("u long").parquet(src_dir)
    q = stream_distinct_count(stream, st3, ckpt, "u", lgk=14)
    q.awaitTermination(120)
    r = read_distinct_count_state(spark, st3).collect()[0]
    assert (r["n_distinct"], r["total"]) == (1500, 6000)


def test_group_heavy_hitters_fold(spark, tmp_path_factory):
    """Per-group MG fold: per-group bounds contain the truth at a
    PRODUCTION capacity even when one group is 50× another (bounds are
    per-group totals, and a small group whose vocab fits its summary
    stays exact while the big group trims); a group first seen in
    epoch 1 works; NULL groups excluded; replay + crash-before-marker
    replay identical; capacity drift raises; degenerate capacity ≥ N is
    exact everywhere; writeStream wrapper end-to-end."""
    import json
    import os
    import random
    from collections import Counter

    import pytest

    from vectorsearch_spark.operators.sketch import (
        fold_group_heavy_hitters_batch,
        read_group_heavy_hitters_state,
        stream_group_heavy_hitters,
    )

    rng = random.Random(23)
    # big: zipf-ish over 200 items, 5000 rows; small: 8 items, 100 rows
    big0 = [f"b{min(rng.randrange(200), rng.randrange(200))}" for _ in range(3000)]
    big1 = [f"b{min(rng.randrange(200), rng.randrange(200))}" for _ in range(2000)]
    small1 = [f"s{rng.randrange(8)}" for _ in range(100)]  # first seen in e1
    b0 = [("big", w) for w in big0]
    b1 = [("big", w) for w in big1] + [("small", w) for w in small1] + [(None, "x")]
    truth = {"big": Counter(big0) + Counter(big1), "small": Counter(small1)}

    schema = "g string, item string"
    cap = 32  # production-style: far below big's 200-item vocab
    state = str(tmp_path_factory.mktemp("ghh")) + "/st"
    os.makedirs(state, exist_ok=True)
    fold_group_heavy_hitters_batch(
        spark.createDataFrame(b0, schema), 0, state, "g", "item", capacity=cap
    )
    fold_group_heavy_hitters_batch(
        spark.createDataFrame(b1, schema), 1, state, "g", "item", capacity=cap
    )
    got = read_group_heavy_hitters_state(spark, state, k=10).collect()
    assert {r["group"] for r in got} == {"big", "small"}
    for r in got:
        t = truth[r["group"]][r["item"]]
        assert r["lb"] <= t <= r["ub"], (r, t)
    # the small group's summary never trimmed -> exact, ub == est + err
    # where err = floor(100/33) = 3; est itself must be exact
    small = {r["item"]: r for r in got if r["group"] == "small"}
    assert len(small) == 8
    for item, r in small.items():
        assert r["est"] == truth["small"][item]

    ref = sorted(tuple(r) for r in got)
    fold_group_heavy_hitters_batch(  # replay no-op
        spark.createDataFrame(b1, schema), 1, state, "g", "item", capacity=cap
    )
    assert sorted(
        tuple(r) for r in read_group_heavy_hitters_state(spark, state, 10).collect()
    ) == ref
    with open(f"{state}/_last_epoch.json", "w") as fh:  # crash before marker
        json.dump({"epoch": 0}, fh)
    fold_group_heavy_hitters_batch(
        spark.createDataFrame(b1, schema), 1, state, "g", "item", capacity=cap
    )
    assert sorted(
        tuple(r) for r in read_group_heavy_hitters_state(spark, state, 10).collect()
    ) == ref

    with pytest.raises(ValueError, match="capacity"):
        fold_group_heavy_hitters_batch(
            spark.createDataFrame(b1, schema), 2, state, "g", "item", capacity=16
        )

    # degenerate capacity >= N: exact everywhere, bounds collapse
    st2 = str(tmp_path_factory.mktemp("ghhx")) + "/st"
    os.makedirs(st2, exist_ok=True)
    n = len(b0) + len(b1)
    fold_group_heavy_hitters_batch(
        spark.createDataFrame(b0, schema), 0, st2, "g", "item", capacity=n
    )
    fold_group_heavy_hitters_batch(
        spark.createDataFrame(b1, schema), 1, st2, "g", "item", capacity=n
    )
    for r in read_group_heavy_hitters_state(spark, st2, k=10**6).collect():
        assert r["lb"] == r["est"] == r["ub"] == truth[r["group"]][r["item"]]

    # writeStream wrapper end-to-end
    src_dir = str(tmp_path_factory.mktemp("ghhsrc")) + "/vals"
    st3 = str(tmp_path_factory.mktemp("ghhstate3")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("ghhckpt"))
    spark.createDataFrame(b0 + b1, schema).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_group_heavy_hitters(stream, st3, ckpt, "g", "item", capacity=cap)
    q.awaitTermination(120)
    for r in read_group_heavy_hitters_state(spark, st3, k=10).collect():
        t = truth[r["group"]][r["item"]]
        assert r["lb"] <= t <= r["ub"]


def test_group_distinct_count_fold(spark, tmp_path_factory):
    """Per-group HLL fold: exact per group in the sparse range across
    overlapping epochs; a group first seen in epoch 1 works; NULL
    groups/values excluded; replay no-op + crash-before-marker replay
    identical; lgk drift raises; writeStream wrapper end-to-end."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from vectorsearch_spark.operators.sketch import (
        fold_group_distinct_count_batch,
        read_group_distinct_count_state,
        stream_group_distinct_count,
    )

    state = str(tmp_path_factory.mktemp("gdc")) + "/st"
    os.makedirs(state, exist_ok=True)
    # a: users 0..299 in e0, 200..499 in e1 (union 500); b: only e1
    e0 = spark.range(900).select(F.lit("a").alias("g"), (F.col("id") % 300).alias("u"))
    e1 = (
        spark.range(900)
        .select(F.lit("a").alias("g"), (F.col("id") % 300 + 200).alias("u"))
        .union(spark.range(120).select(F.lit("b").alias("g"), (F.col("id") % 40).alias("u")))
        .union(spark.createDataFrame([(None, 1), ("a", None)], "g string, u long"))
    )
    fold_group_distinct_count_batch(e0, 0, state, "g", "u", lgk=14)
    fold_group_distinct_count_batch(e1, 1, state, "g", "u", lgk=14)
    got = {r["group"]: (r["n_distinct"], r["total"])
           for r in read_group_distinct_count_state(spark, state).collect()}
    assert got == {"a": (500, 1800), "b": (40, 120)}

    fold_group_distinct_count_batch(e1, 1, state, "g", "u", lgk=14)  # replay
    assert {r["group"]: (r["n_distinct"], r["total"])
            for r in read_group_distinct_count_state(spark, state).collect()} == got
    with open(f"{state}/_last_epoch.json", "w") as fh:  # crash before marker
        json.dump({"epoch": 0}, fh)
    fold_group_distinct_count_batch(e1, 1, state, "g", "u", lgk=14)
    assert {r["group"]: (r["n_distinct"], r["total"])
            for r in read_group_distinct_count_state(spark, state).collect()} == got

    with pytest.raises(ValueError, match="lgk"):
        fold_group_distinct_count_batch(e0, 2, state, "g", "u", lgk=12)

    # writeStream wrapper end-to-end
    src_dir = str(tmp_path_factory.mktemp("gdcsrc")) + "/vals"
    st3 = str(tmp_path_factory.mktemp("gdcstate3")) + "/st"
    ckpt = str(tmp_path_factory.mktemp("gdcckpt"))
    e0.union(e1).write.parquet(src_dir)
    stream = spark.readStream.schema("g string, u long").parquet(src_dir)
    q = stream_group_distinct_count(stream, st3, ckpt, "g", "u", lgk=14)
    q.awaitTermination(120)
    assert {r["group"]: (r["n_distinct"], r["total"])
            for r in read_group_distinct_count_state(spark, st3).collect()} == got


def test_value_histogram_fold_empty_first_batch_and_inf(spark, tmp_path_factory):
    """Review regressions: (1) an empty FIRST micro-batch commits a
    'no data yet' sentinel whose placeholder w0/gmin/gmax must NOT seed
    the adaptive grid or the observed range once real data arrives —
    resolution must equal the fresh-state grid (span/bins), not a
    permanent width-1.0 grid with a phantom gmin=0; (2) ±Inf values are
    excluded like NaN (no bin — they would overflow the grid
    arithmetic) instead of crashing the fold; (3) same for the
    per-group fold, fixed and adaptive."""
    import os

    from vectorsearch_spark.operators.sketch import (
        fold_group_value_histogram_batch,
        fold_value_histogram_batch,
        read_group_quantile_state,
        read_quantile_state,
    )

    empty = spark.createDataFrame([], "v double")
    vals = spark.createDataFrame([(5.0 + i / 1000.0,) for i in range(101)], "v double")

    # adaptive global: empty epoch 0, data epoch 1
    st = str(tmp_path_factory.mktemp("vqe")) + "/st"
    os.makedirs(st, exist_ok=True)
    fold_value_histogram_batch(empty, 0, st, "v", bins=64)
    fold_value_histogram_batch(vals, 1, st, "v", bins=64)
    r = read_quantile_state(spark, st, [0.5]).collect()[0]
    assert r["lb"] >= 5.0  # phantom gmin=0.0 must not survive
    assert r["ub"] - r["lb"] < 0.01  # fresh grid ~ span/64, not width 1.0
    assert 5.0 <= r["value"] <= 5.1

    # ±Inf/NaN excluded, fold does not crash, bounds stay sane
    st2 = str(tmp_path_factory.mktemp("vqi")) + "/st"
    os.makedirs(st2, exist_ok=True)
    messy = spark.createDataFrame(
        [(1.0,), (float("inf"),), (float("-inf"),), (float("nan"),), (None,), (2.0,)],
        "v double",
    )
    fold_value_histogram_batch(messy, 0, st2, "v", bins=16)
    r = {row["p"]: row for row in read_quantile_state(spark, st2, [0.5, 1.0]).collect()}
    assert r[1.0]["ub"] == 2.0 and r[0.5]["lb"] >= 1.0 - 1e-9

    # group fold: empty first batch then data, fixed AND adaptive
    gvals = spark.createDataFrame(
        [("a", 5.0 + i / 1000.0) for i in range(101)], "g string, value double"
    )
    gempty = spark.createDataFrame([], "g string, value double")
    for kw in ({"bins": 64}, {"bins": 64, "lo": 0.0, "hi": 10.0}):
        stg = str(tmp_path_factory.mktemp("gqe")) + "/st"
        os.makedirs(stg, exist_ok=True)
        fold_group_value_histogram_batch(gempty, 0, stg, "g", "value", **kw)
        fold_group_value_histogram_batch(gvals, 1, stg, "g", "value", **kw)
        r = read_group_quantile_state(spark, stg, [0.5]).collect()[0]
        assert r["group"] == "a" and r["lb"] >= 5.0 - 0.2  # fixed grid: 10/64 bins
        assert 5.0 <= r["value"] <= 5.2

    # group fold inf exclusion
    stg2 = str(tmp_path_factory.mktemp("gqi")) + "/st"
    os.makedirs(stg2, exist_ok=True)
    gmessy = spark.createDataFrame(
        [("a", 1.0), ("a", float("inf")), ("a", 2.0)], "g string, value double"
    )
    fold_group_value_histogram_batch(gmessy, 0, stg2, "g", "value", bins=16)
    r = read_group_quantile_state(spark, stg2, [1.0]).collect()[0]
    assert r["ub"] == 2.0


@pytest.mark.parametrize(
    "entry", ["stream_token_heavy_hitters_exact", "source_token_heavy_hitters"]
)
def test_exact_heavy_hitter_capacity_covers_lowercase_expansion(spark, tmp_path, entry):
    """The two degenerate-exact heavy-hitter entries size capacity ≥ N
    from the text. Both tokenize lower(text), and Spark's lower('İ') is
    'i' + U+0307 — two tokens from one source char. Here one 6-char
    document yields 7 distinct tokens; a capacity of Σ length(text) = 6
    trims the summary, so the entry must size from the lowered text and
    still return every token's exact count with lb = est = ub."""
    import pandas as pd

    from vectorsearch_spark import workload
    from vectorsearch_spark.operators.text import BPE_PIECE_RE

    pd.DataFrame(
        {"doc_id": [0], "text": ["İ!#$%&"], "lang": ["tr"], "source": ["web"],
         "n_chars": [6]}
    ).to_parquet(tmp_path / "documents.parquet")
    toks = spark.read.parquet(str(tmp_path / "documents.parquet")).select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(BPE_PIECE_RE), F.lit(0))
        ).alias("token")
    )
    exact = {r["token"]: r["count"] for r in toks.groupBy("token").count().collect()}
    assert len(exact) == 7 and "\u0307" in exact
    got = getattr(workload, entry)(spark, str(tmp_path)).collect()
    assert {r["token"]: r["est"] for r in got} == exact
    assert all(r["lb"] == r["est"] == r["ub"] for r in got)
