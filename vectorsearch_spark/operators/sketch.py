"""Bounded-state frequency sketching: PROVABLY-EXACT distributed top-k
heavy hitters without shuffling the full item cardinality.

The scale problem: ``groupBy(item).count()`` + top-k is correct but its
shuffle tracks every DISTINCT item — at 100 TB of text that is billions
of token keys moving between executors to answer a 20-row question.
The classic two-phase answer (Misra–Gries 1982; mergeable-summary form
per Agarwal et al., PODS 2012 "Mergeable Summaries"):

1. one ``mapInPandas`` pass builds a ``capacity``-counter Misra–Gries
   summary PER PARTITION (bounded executor state, ≤ capacity+1 output
   rows per partition — the "+1" is the partition-size marker row);
2. the union of summary item sets is a PROVABLE superset of every item
   with global frequency > N/(capacity+1): if f_p(x) ≤ N_p/(cap+1) in
   every partition p, summing gives f(x) ≤ N/(cap+1) (pigeonhole), and
   MG guarantees an item above its partition's bound survives that
   partition's summary;
3. a second pass exact-counts ONLY the candidates (broadcast semi
   join — the shuffle now tracks ≤ |candidates| keys, not the vocab);
4. the result is CERTIFIED: if the k-th exact count > N/(capacity+1),
   no non-candidate can outrank it, so the top-k is exact — otherwise
   this module raises instead of returning a silently-approximate
   answer.

Driver/broadcast state is bounded by ``merge_fanout`` × capacity
summary rows regardless of scan width: when the input has more
partitions than ``merge_fanout``, a TREE of intermediate merge stages
(whole summaries hash-routed by summary id) collapses them before the
driver collect — at 1000 executors the driver never reads
partitions × capacity rows (``_partition_summaries``).

No reference analog (the reference is a vector index); this is the
training-data-pipeline tier: vocabulary heavy hitters feed tokenizer
audits, stop-lists, and skew guards for token-keyed shuffles.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectorsearch_spark.fsio import epoch_ids
from vectorsearch_spark.operators.incremental import (
    commit_epoch,
    committed_epoch,
    epoch_already_applied,
    start_fold_stream,
)


def _mg_fold(counters: dict, add: dict, capacity: int) -> dict:
    """Merge weighted counts into a Misra–Gries summary of at most
    ``capacity`` counters (the mergeable-summaries MERGE: add, then
    subtract the (capacity+1)-th largest value from everything and
    drop non-positives — total decrement stays ≤ N/(capacity+1))."""
    for item, cnt in add.items():
        counters[item] = counters.get(item, 0) + int(cnt)
    if len(counters) > capacity:
        vals = sorted(counters.values(), reverse=True)
        v = vals[capacity]
        counters = {i: c - v for i, c in counters.items() if c > v}
    return counters


def _partition_summaries(
    items: DataFrame, capacity: int, merge_fanout: int = 64
) -> "tuple[dict, int]":
    """Distributed Misra–Gries summary of an ``item`` column: one
    ``mapInPandas`` pass builds a per-partition summary (≤ capacity
    counters + one (None, partition_total) marker row), then a TREE
    MERGE collapses summaries by ``merge_fanout`` until one partition's
    worth remains, so the driver collect reads O(merge_fanout ·
    capacity) rows REGARDLESS of the input partition count — at 1000
    executors × thousands of scan partitions the driver never sees
    partitions × capacity rows. Merging by item-wise sum then one trim
    is the mergeable-summaries MERGE (Agarwal et al., PODS 2012): the
    total decrement across any merge tree stays ≤ N/(capacity+1), so
    the superset guarantee (any item with f > N/(cap+1) survives) and
    the undercount bound both hold for the merged summary.

    Returns (counters, total): the ≤ capacity merged counters and the
    exact item count.
    """
    cap = int(capacity)

    def summaries(batches: "Iterator") -> "Iterator":
        import pandas as pd

        counters: dict = {}
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf["item"].value_counts()
            n += int(vc.sum())
            counters = _mg_fold(counters, vc.to_dict(), cap)
        out = list(counters.items()) + [(None, n)]
        yield pd.DataFrame(out, columns=["item", "est"])

    def merge(batches: "Iterator") -> "Iterator":
        import pandas as pd

        acc: dict = {}
        n = 0
        for pdf in batches:
            for item, est in zip(pdf["item"], pdf["est"]):
                if item is None:
                    n += int(est)
                else:
                    acc[item] = acc.get(item, 0) + int(est)
        acc = _mg_fold({}, acc, cap)
        yield pd.DataFrame(list(acc.items()) + [(None, n)], columns=["item", "est"])

    import math

    summ = items.mapInPandas(summaries, "item string, est long")
    # .rdd only reads the partition count; any shuffle it forces under
    # AQE is reused by the summary job itself
    p = int(items.rdd.getNumPartitions())
    fan = max(2, int(merge_fanout))
    while p > fan:
        p = math.ceil(p / fan)
        # hash-partition by SUMMARY id so whole summaries merge together
        # (the PODS'12 error analysis merges summaries, not row slices)
        summ = (
            summ.withColumn("sid", F.spark_partition_id())
            .repartition(p, "sid")
            .mapInPandas(merge, "item string, est long")
        )
    rows = summ.collect()
    total = sum(r["est"] for r in rows if r["item"] is None)
    counters: dict = {}
    for r in rows:
        if r["item"] is not None:
            counters[r["item"]] = counters.get(r["item"], 0) + int(r["est"])
    return _mg_fold({}, counters, cap), total


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int = 4096,
    merge_fanout: int = 64,
) -> DataFrame:
    """Exact global top-``k`` most frequent values of ``col`` via
    Misra–Gries candidate generation + exact verification (module doc
    for the guarantee). Returns (item, cnt, rank) ordered by
    (cnt DESC, item) — deterministic under count ties.

    Raises ValueError when exactness is not certifiable (the k-th
    candidate count ≤ N/(capacity+1)): raise ``capacity`` — a silent
    maybe-wrong top-k is worse than a loud re-run.
    """
    if k < 1:
        raise ValueError("k must be ≥ 1")
    if capacity < k:
        raise ValueError("capacity must be ≥ k")
    spark = df.sparkSession
    items = df.select(F.col(col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )

    cap = int(capacity)
    counters, total = _partition_summaries(items, cap, merge_fanout=merge_fanout)
    if total == 0:
        raise ValueError("heavy_hitters: empty input")
    cands = sorted(counters)
    bound = total / (cap + 1)
    if not cands:
        # near-uniform data: every counter cancelled in every partition
        # — nothing is certifiably frequent at this capacity
        raise ValueError(
            "heavy_hitters: no candidate exceeded the exactness bound "
            f"N/(capacity+1) = {bound:.1f}; raise capacity"
        )

    cand_df = spark.createDataFrame([(c,) for c in cands], "item string")
    top = (
        items.join(F.broadcast(cand_df), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item"))
        .limit(int(k))
        .collect()
    )
    # certificate: every non-candidate has true count ≤ bound, so the
    # result is exact iff the k-th kept count beats the bound (when
    # fewer than k candidates exist, only a sub-1 bound — i.e. the
    # summaries never decremented and are exhaustive — certifies)
    kth = float(top[-1]["cnt"]) if len(top) >= k else None
    if (kth is not None and kth <= bound) or (kth is None and bound >= 1.0):
        raise ValueError(
            f"heavy_hitters: k-th count {kth} ≤ exactness bound "
            f"N/(capacity+1) = {bound:.1f} — a non-candidate could outrank "
            "it; raise capacity"
        )
    return spark.createDataFrame(
        [(r["item"], int(r["cnt"]), i + 1) for i, r in enumerate(top)],
        "item string, cnt long, rank long",
    )


def fold_heavy_hitters_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    col: str,
    capacity: int = 4096,
    merge_fanout: int = 64,
) -> None:
    """One micro-batch fold of STREAMING heavy hitters: Misra–Gries
    summaries are MERGEABLE (Agarwal et al., PODS 2012), so the state
    is one ``capacity``-counter summary plus the running total — O(cap)
    forever, never the stream. Each fold builds the batch's summary
    with the same distributed pass as ``heavy_hitters`` phase 1, merges
    it into the persisted summary with ``_mg_fold`` (error adds up to
    ≤ N_total/(capacity+1) across any merge tree), and rewrites the
    tiny state.

    Unlike the batch operator there is no exact-verify pass — the
    stream is gone — so reads return ESTIMATES with honest bounds
    (``read_heavy_hitters_state``): est ≤ true ≤ est + N/(cap+1).

    Exactly-once by the fold protocol in ``operators/incremental.py``.
    """
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return

    # the batch is consumed by exactly ONE action (the summary pass),
    # so no localCheckpoint: materializing an exploded token stream
    # just to read it once doubled the fold's cost for nothing
    items = batch_df.select(F.col(col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )
    cap = int(capacity)
    batch_counters, batch_n = _partition_summaries(
        items, cap, merge_fanout=merge_fanout
    )

    # prior state: the LATEST committed epoch's summary (tiny)
    root = os.path.join(state_path, "summary")
    prior_eps = epoch_ids(root, below=epoch_id)
    counters: dict = {}
    total = 0
    if prior_eps:
        prev = spark.read.schema(
            "item string, est long, total long, capacity int"
        ).parquet(os.path.join(root, f"epoch={max(prior_eps)}")).collect()
        counters = {r["item"]: int(r["est"]) for r in prev if r["item"] is not None}
        total = int(prev[0]["total"]) if prev else 0
        if prev and int(prev[0]["capacity"]) != cap:
            raise ValueError(
                f"fold_heavy_hitters_batch: capacity {cap} != state capacity "
                f"{int(prev[0]['capacity'])} — the error bound would be wrong; "
                "keep capacity fixed for a state's lifetime"
            )

    counters = _mg_fold(counters, batch_counters, cap)
    total += batch_n
    rows = [(i, c, total, cap) for i, c in counters.items()] or [(None, 0, total, cap)]
    # repartition(1), NOT coalesce(1): coalescing a python-parallelized
    # local DataFrame folds its ~parallelism partitions into ONE task
    # that pays a sequential Python-worker round trip per partition
    # (~4 s flat for a 512-row write); the shuffle reads them in parallel
    spark.createDataFrame(
        rows, "item string, est long, total long, capacity int"
    ).repartition(1).write.mode("overwrite").parquet(
        os.path.join(root, f"epoch={int(epoch_id)}")
    )
    commit_epoch(state_path, epoch_id)


def read_heavy_hitters_state(spark, state_path: str, k: int = 20) -> DataFrame:
    """Top-k estimates from the folded summary with honest bounds:
    (item, est, lb, ub, rank) where lb = est (MG only undercounts) and
    ub = est + floor(total/(capacity+1)) — the mergeable-summaries
    error bound over the persisted (total, capacity): true count ∈
    [est, ub] for every item, including items absent from the summary
    (whose est is implicitly 0).

    Reads the COMMITTED epoch from the marker (the fold's
    marker-commits-last protocol), never the max epoch dir on disk — a
    crashed fold's partially-written dir must stay invisible until its
    replay overwrites it (the exactly-once contract applies to external
    readers too)."""
    committed = committed_epoch(state_path, "read_heavy_hitters_state")
    root = os.path.join(state_path, "summary")
    rows = spark.read.schema(
        "item string, est long, total long, capacity int"
    ).parquet(os.path.join(root, f"epoch={committed}"))
    rows = rows.where(F.col("item").isNotNull())
    err = F.floor(F.col("total") / (F.col("capacity") + 1)).cast("long")
    w = Window.orderBy(F.col("est").desc(), F.col("item").asc())
    return (
        rows.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            "item",
            "est",
            F.col("est").alias("lb"),
            (F.col("est") + err).alias("ub"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def stream_heavy_hitters(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    col: str,
    **kwargs,
):
    """Keep a bounded heavy-hitters summary current from a stream (see
    ``fold_heavy_hitters_batch``). Returns the StreamingQuery; read the
    estimates with ``read_heavy_hitters_state``."""
    return start_fold_stream(
        docs,
        checkpoint,
        lambda batch_df, epoch_id: fold_heavy_hitters_batch(
            batch_df, epoch_id, state_path, col, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# Streaming mergeable quantiles: bounded-bin histogram state
# ---------------------------------------------------------------------------

def _hist_width(w0: float, gmin: float, gmax: float, bins: int) -> float:
    """Smallest ``w0 · 2^k`` (k ≥ 0) whose origin-0 grid covers
    [gmin, gmax] with at most ``bins`` occupied cells. Widths along one
    state lineage always relate by powers of two, so coarsening a finer
    persisted histogram onto the new grid is EXACT integer pair-merging
    (floor(bin/ratio) — the floor-division identity
    floor(v/(r·w)) = floor(floor(v/w)/r) for integer r ≥ 1), never a
    value re-read. Deterministic in (w0, gmin, gmax, bins) only."""
    import math

    w = float(w0)
    while (math.floor(gmax / w) - math.floor(gmin / w) + 1) > int(bins):
        w *= 2.0
    return w


def fold_value_histogram_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    col: str,
    bins: int = 512,
    lo: float | None = None,
    hi: float | None = None,
) -> None:
    """One micro-batch fold of STREAMING QUANTILES: the state is a
    bounded histogram — at most ``bins`` (bin, count) rows plus exact
    (total, gmin, gmax) — O(bins) forever, never the stream. The
    quantile sibling of ``fold_heavy_hitters_batch``: reads
    (``read_quantile_state``) return estimates with HONEST bounds — the
    true rank-ceil(p·n) value lies inside its bin, so lb ≤ true ≤ ub
    with ub − lb ≤ one bin width.

    Two range modes:

    - ``lo``/``hi`` given (the HdrHistogram-style fixed-range config):
      origin = lo, width = (hi−lo)/bins forever; values outside the
      range CLAMP into the edge bins, whose bounds the reader widens to
      the exact observed gmin/gmax (honest one-sided degradation).
      Fully deterministic in the config ⇒ SQL-mirrorable — the oracle
      twin (``stream_value_quantiles``).
    - adaptive (default): origin-0 grid whose width starts at the first
      batch's span/bins and DOUBLES (never shrinks) whenever the
      running [gmin, gmax] needs more than ``bins`` cells
      (``_hist_width``). Re-gridding persisted counts is exact because
      lineage widths relate by powers of two — the mergeability
      argument, and why resolution degrades deterministically instead
      of the state growing.

    In fixed-range mode the fold is ONE job: the per-bin counts carry
    per-bin min/max, whose driver-side merge over ≤ ``bins`` rows IS
    the batch's (count, gmin, gmax) — the micro-batch is scanned once.
    Adaptive mode genuinely needs the batch stats BEFORE bins can be
    assigned (the width may regrid), so it ``localCheckpoint``s the
    projected values and pays one bounded stats aggregate plus the
    ``groupBy(bin)`` count — either way the shuffle tracks ≤ ``bins``
    keys (map-side combine collapses per partition), never a per-value
    buffer: the same 100 TB stance as ``exact_quantiles`` (which is the
    exact BATCH answer; this is the mergeable STREAMING one).
    Exactly-once by the fold protocol in ``operators/incremental.py``.
    Non-finite values (NULL/NaN/±Inf) are excluded —
    NaN is unorderable and ±Inf has no bin (it would overflow the grid
    arithmetic) — the exact_quantiles stance.
    """
    if bins < 2:
        raise ValueError("bins must be ≥ 2")
    fixed = lo is not None or hi is not None
    if fixed and (lo is None or hi is None or not float(lo) < float(hi)):
        raise ValueError("fixed-range mode needs lo < hi")
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return

    v = F.col(col).cast("double")
    inf = float("inf")
    vals = batch_df.select(v.alias("v")).where(
        F.col("v").isNotNull() & ~F.isnan("v") & (F.abs(F.col("v")) != inf)
    )
    if fixed:
        # ONE scan: per-bin min/max double as the batch stats
        fw = (float(hi) - float(lo)) / int(bins)
        fixed_bin = F.least(
            F.lit(int(bins) - 1),
            F.greatest(F.lit(0), F.floor((F.col("v") - float(lo)) / fw)),
        ).cast("long")
        bin_rows = (
            vals.groupBy(fixed_bin.alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect()
        )
        batch_n = sum(int(r["c"]) for r in bin_rows)
        batch_lo = min((float(r["lo"]) for r in bin_rows), default=0.0)
        batch_hi = max((float(r["hi"]) for r in bin_rows), default=0.0)
    else:
        # two actions over the batch (stats, then bins) — pin it so the
        # second action re-reads rather than recomputes the source
        vals = vals.localCheckpoint()
        st = vals.agg(
            F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
        ).collect()[0]
        batch_n = int(st["n"])
        batch_lo = float(st["lo"]) if batch_n else 0.0
        batch_hi = float(st["hi"]) if batch_n else 0.0

    SCHEMA = (
        "bin long, c long, total long, w0 double, width double, "
        "origin double, gmin double, gmax double, bins int, fixed boolean"
    )
    root = os.path.join(state_path, "hist")
    prior_eps = epoch_ids(root, below=epoch_id)
    counts: dict = {}
    total = 0
    w0 = width = gmin = gmax = None
    if prior_eps:
        prev = spark.read.schema(SCHEMA).parquet(
            os.path.join(root, f"epoch={max(prior_eps)}")
        ).collect()
        if prev:
            r0 = prev[0]
            if int(r0["bins"]) != int(bins) or bool(r0["fixed"]) != fixed:
                raise ValueError(
                    "fold_value_histogram_batch: bins/range mode differs from "
                    "the state's — the grid would be wrong; keep the config "
                    "fixed for a state's lifetime"
                )
            if fixed and (
                float(r0["origin"]) != float(lo)
                or float(r0["width"]) != (float(hi) - float(lo)) / int(bins)
            ):
                raise ValueError(
                    "fold_value_histogram_batch: lo/hi differ from the "
                    "state's fixed range — keep the range fixed for a "
                    "state's lifetime"
                )
            total = int(r0["total"])
            if total > 0:
                # total == 0 is the "no data yet" sentinel from an empty
                # first batch — its placeholder w0/gmin/gmax are NOT
                # observations and must not seed the grid or the range
                w0, width = float(r0["w0"]), float(r0["width"])
                gmin, gmax = float(r0["gmin"]), float(r0["gmax"])
                counts = {
                    int(r["bin"]): int(r["c"]) for r in prev if r["bin"] is not None
                }

    if fixed:
        origin = float(lo)
        w0 = fw
        new_width = fw
    else:
        origin = 0.0

    if batch_n:
        gmin = batch_lo if gmin is None else min(gmin, batch_lo)
        gmax = batch_hi if gmax is None else max(gmax, batch_hi)
        if not fixed:
            if w0 is None:
                span = batch_hi - batch_lo
                w0 = (span / int(bins)) if span > 0 else max(abs(batch_hi), 1.0) * 1e-9
                width = w0
            new_width = _hist_width(w0, gmin, gmax, int(bins))
            if width is not None and new_width > width:
                ratio = int(round(new_width / width))
                counts_new: dict = {}
                for b, c in counts.items():
                    nb = b // ratio  # exact: floor-div identity, module doc
                    counts_new[nb] = counts_new.get(nb, 0) + c
                counts = counts_new
        if fixed:
            # the single scan already produced the per-bin counts
            for r in bin_rows:
                counts[int(r["bin"])] = counts.get(int(r["bin"]), 0) + int(r["c"])
        else:
            bin_expr = F.floor(F.col("v") / new_width).cast("long")
            for r in (
                vals.withColumn("bin", bin_expr)
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            ):
                counts[int(r["bin"])] = counts.get(int(r["bin"]), 0) + int(r["c"])
        total += batch_n
        width = new_width
    else:
        # empty batch: commit state unchanged (or, if nothing was ever
        # seen, a total=0 sentinel meta — recognized above — so readers
        # of this epoch see "no data yet" rather than "no committed
        # epoch")
        if w0 is None:
            w0 = fw if fixed else 1.0
        if width is None:
            width = w0
        if gmin is None:
            gmin = gmax = 0.0

    meta = (None, None, int(total), float(w0), float(width), float(origin),
            float(gmin), float(gmax), int(bins), bool(fixed))
    rows = [meta] + [
        (int(b), int(c)) + meta[2:] for b, c in sorted(counts.items())
    ]
    # repartition(1), NOT coalesce(1): the python-local-DF pitfall
    # documented at the heavy-hitters state write above
    spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"epoch={int(epoch_id)}"))
    commit_epoch(state_path, epoch_id)


def read_quantile_state(spark, state_path: str, probs: "list[float]") -> DataFrame:
    """Quantile estimates from the folded histogram with honest bounds:
    (p, value, lb, ub) where the true rank-ceil(p·total) value is
    guaranteed in [lb, ub] — a bin's interior bounds intersected with
    the exact observed [gmin, gmax]; clamped edge bins (fixed-range
    mode) widen to gmin/gmax (one-sided honesty). ``value`` is ub, the
    deterministic representative every engine derives identically. The
    walk is driver-side over ≤ bins + 1 committed rows (bounded by
    contract). Reads only the COMMITTED epoch (the marker protocol —
    crashed folds stay invisible)."""
    import math

    if not probs or not all(0.0 < p <= 1.0 for p in probs):
        raise ValueError("probs must be non-empty, each in (0, 1]")
    committed = committed_epoch(state_path, "read_quantile_state")
    rows = spark.read.schema(
        "bin long, c long, total long, w0 double, width double, "
        "origin double, gmin double, gmax double, bins int, fixed boolean"
    ).parquet(os.path.join(state_path, "hist", f"epoch={committed}")).collect()
    meta = rows[0]
    total = int(meta["total"])
    out_schema = "p double, value double, lb double, ub double"
    if total == 0:
        return spark.createDataFrame([], out_schema)
    width, origin = float(meta["width"]), float(meta["origin"])
    gmin, gmax = float(meta["gmin"]), float(meta["gmax"])
    nbins, fixed = int(meta["bins"]), bool(meta["fixed"])
    hist = sorted(
        (int(r["bin"]), int(r["c"])) for r in rows if r["bin"] is not None
    )
    targets = sorted((max(1, math.ceil(p * total)), float(p)) for p in probs)
    out = []
    cum = 0
    ti = 0
    for b, c in hist:
        while ti < len(targets) and cum < targets[ti][0] <= cum + c:
            blo = origin + b * width
            bhi = blo + width
            lb = gmin if (fixed and b == 0) else max(blo, gmin)
            ub = gmax if (fixed and b == nbins - 1) else min(bhi, gmax)
            out.append((targets[ti][1], ub, lb, ub))
            ti += 1
        cum += c
        if ti == len(targets):
            break
    return spark.createDataFrame(out, out_schema)


def stream_value_histogram(
    values: DataFrame,
    state_path: str,
    checkpoint: str,
    col: str,
    **kwargs,
):
    """Keep a bounded quantile histogram current from a stream (see
    ``fold_value_histogram_batch``). Returns the StreamingQuery; read
    estimates with ``read_quantile_state``."""
    return start_fold_stream(
        values,
        checkpoint,
        lambda batch_df, epoch_id: fold_value_histogram_batch(
            batch_df, epoch_id, state_path, col, **kwargs
        ),
    )


def fold_group_value_histogram_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    group_col: str,
    col: str,
    bins: int = 512,
    lo: float | None = None,
    hi: float | None = None,
) -> None:
    """PER-GROUP streaming quantiles — the production shape of
    ``fold_value_histogram_batch`` (per-event-type latency percentiles,
    per-source score distributions): state is one bounded histogram PER
    GROUP — ≤ |groups|·(bins+1) tiny rows, the |groups|-bounded driver
    contract shared with select_top_fraction/temperature_budget_mix.
    Range modes follow the global fold: a shared fixed range (lo/hi —
    the SQL-mirrorable config) or per-group ADAPTIVE origin-0 grids
    whose widths double independently (one exploding group coarsens
    only itself; re-gridding its persisted counts stays exact
    power-of-two pair merging via ``_hist_width``).

    Fixed mode folds in ONE scan (per-(group, bin) min/max double as
    the per-group stats — the global fold's single-pass shape);
    adaptive mode ``localCheckpoint``s the projected values and pays a
    |groups|-bounded stats aggregate plus the ``groupBy(group, bin)``
    count — either way the shuffle tracks ≤ |groups|·bins keys with
    map-side combine, never a per-value buffer. Rows with a NULL group
    are excluded (like non-finite values — NULL/NaN/±Inf: not
    attributable / not bin-able). Exactly-once by the fold protocol
    (``operators/incremental.py``); bins/range-mode drift across a state's lifetime raises.
    Read with ``read_group_quantile_state``.
    """
    if bins < 2:
        raise ValueError("bins must be ≥ 2")
    fixed = lo is not None or hi is not None
    if fixed and (lo is None or hi is None or not float(lo) < float(hi)):
        raise ValueError("fixed-range mode needs lo < hi")
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return

    v = F.col(col).cast("double")
    inf = float("inf")
    vals = batch_df.select(
        F.col(group_col).cast("string").alias("g"), v.alias("v")
    ).where(
        F.col("g").isNotNull()
        & F.col("v").isNotNull()
        & ~F.isnan("v")
        & (F.abs(F.col("v")) != inf)  # ±Inf has no bin (grid overflow)
    )
    bin_rows = None
    if fixed:
        # ONE scan (the global fold's single-pass shape, per group):
        # per-(group, bin) min/max merge driver-side into the per-group
        # stats over ≤ |groups|·bins rows
        fw = (float(hi) - float(lo)) / int(bins)
        fixed_bin = F.least(
            F.lit(int(bins) - 1),
            F.greatest(F.lit(0), F.floor((F.col("v") - float(lo)) / fw)),
        ).cast("long")
        bin_rows = (
            vals.groupBy("g", fixed_bin.alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect()
        )
        batch_stats = {}
        for r in bin_rows:
            n, blo, bhi = batch_stats.get(r["g"], (0, inf, -inf))
            batch_stats[r["g"]] = (
                n + int(r["c"]),
                min(blo, float(r["lo"])),
                max(bhi, float(r["hi"])),
            )
    else:
        # adaptive: stats must precede bin assignment (widths may
        # regrid) — two actions over the batch, so pin it first
        vals = vals.localCheckpoint()
        batch_stats = {
            r["g"]: (int(r["n"]), float(r["lo"]), float(r["hi"]))
            for r in vals.groupBy("g")
            .agg(
                F.count("v").alias("n"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect()
        }

    SCHEMA = (
        "grp string, bin long, c long, total long, w0 double, width double, "
        "origin double, gmin double, gmax double, bins int, fixed boolean"
    )
    root = os.path.join(state_path, "hist")
    prior_eps = epoch_ids(root, below=epoch_id)
    # per-group state: {g: {"counts": {bin: c}, "total", "w0", "width",
    # "gmin", "gmax"}}
    state: dict = {}
    if prior_eps:
        prev = spark.read.schema(SCHEMA).parquet(
            os.path.join(root, f"epoch={max(prior_eps)}")
        ).collect()
        if prev:
            r0 = prev[0]
            if int(r0["bins"]) != int(bins) or bool(r0["fixed"]) != fixed:
                raise ValueError(
                    "fold_group_value_histogram_batch: bins/range mode "
                    "differs from the state's — keep the config fixed for a "
                    "state's lifetime"
                )
            if fixed and (
                float(r0["origin"]) != float(lo)
                or float(r0["width"]) != (float(hi) - float(lo)) / int(bins)
            ):
                raise ValueError(
                    "fold_group_value_histogram_batch: lo/hi differ from the "
                    "state's fixed range — keep the range fixed for a "
                    "state's lifetime"
                )
            for r in prev:
                if r["grp"] is None:  # empty-epoch sentinel, not a group
                    continue
                s = state.setdefault(
                    r["grp"],
                    {"counts": {}, "total": 0, "w0": float(r["w0"]),
                     "width": float(r["width"]), "gmin": float(r["gmin"]),
                     "gmax": float(r["gmax"])},
                )
                if r["bin"] is None:
                    s["total"] = int(r["total"])
                else:
                    s["counts"][int(r["bin"])] = int(r["c"])

    origin = float(lo) if fixed else 0.0
    fixed_width = ((float(hi) - float(lo)) / int(bins)) if fixed else None

    # resolve each batch group's target width (and regrid prior counts)
    widths: dict = {}
    for g, (n, blo, bhi) in batch_stats.items():
        s = state.get(g)
        if fixed:
            widths[g] = fixed_width
            if s is not None:
                s["gmin"], s["gmax"] = min(s["gmin"], blo), max(s["gmax"], bhi)
            else:
                state[g] = {"counts": {}, "total": 0, "w0": fixed_width,
                            "width": fixed_width, "gmin": blo, "gmax": bhi}
            continue
        if s is None:
            span = bhi - blo
            w0 = (span / int(bins)) if span > 0 else max(abs(bhi), 1.0) * 1e-9
            state[g] = {"counts": {}, "total": 0, "w0": w0, "width": w0,
                        "gmin": blo, "gmax": bhi}
            widths[g] = _hist_width(w0, blo, bhi, int(bins))
            state[g]["width"] = widths[g]
            continue
        s["gmin"], s["gmax"] = min(s["gmin"], blo), max(s["gmax"], bhi)
        nw = _hist_width(s["w0"], s["gmin"], s["gmax"], int(bins))
        if nw > s["width"]:
            ratio = int(round(nw / s["width"]))
            merged: dict = {}
            for b, c in s["counts"].items():
                merged[b // ratio] = merged.get(b // ratio, 0) + c
            s["counts"] = merged
            s["width"] = nw
        widths[g] = s["width"]

    if batch_stats:
        if fixed:
            pass  # the single scan already produced per-(group, bin) counts
        else:
            wmap = F.create_map(
                *[x for g, wd in widths.items() for x in (F.lit(g), F.lit(float(wd)))]
            )
            bin_expr = F.floor(F.col("v") / F.element_at(wmap, F.col("g"))).cast(
                "long"
            )
            bin_rows = (
                vals.withColumn("bin", bin_expr)
                .groupBy("g", "bin")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
        for r in bin_rows:
            s = state[r["g"]]
            s["counts"][int(r["bin"])] = s["counts"].get(int(r["bin"]), 0) + int(r["c"])
        for g, (n, _lo, _hi) in batch_stats.items():
            state[g]["total"] += n

    rows = []
    for g in sorted(state):
        s = state[g]
        meta = (g, None, None, int(s["total"]), float(s["w0"]), float(s["width"]),
                float(origin), float(s["gmin"]), float(s["gmax"]), int(bins),
                bool(fixed))
        rows.append(meta)
        rows += [(g, int(b), int(c)) + meta[3:] for b, c in sorted(s["counts"].items())]
    if not rows:
        # nothing ever seen: commit an empty epoch so readers see "no
        # data yet" rather than "no committed epoch"
        w_sent = float(fixed_width) if fixed else 1.0
        rows = [(None, None, None, 0, w_sent, w_sent, float(origin), 0.0, 0.0,
                 int(bins), bool(fixed))]
    # repartition(1), NOT coalesce(1): the python-local-DF pitfall
    # documented at the heavy-hitters state write above
    spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"epoch={int(epoch_id)}"))
    commit_epoch(state_path, epoch_id)


def read_group_quantile_state(
    spark, state_path: str, probs: "list[float]"
) -> DataFrame:
    """Per-group quantile estimates from the folded histograms:
    (group, p, value, lb, ub) with the ``read_quantile_state`` bound
    guarantee per group (true rank-ceil(p·n_g) value ∈ [lb, ub]).
    Driver-side walk over ≤ |groups|·(bins+1) committed rows — bounded
    by the |groups| contract. Reads only the COMMITTED epoch."""
    import math

    if not probs or not all(0.0 < p <= 1.0 for p in probs):
        raise ValueError("probs must be non-empty, each in (0, 1]")
    committed = committed_epoch(state_path, "read_group_quantile_state")
    rows = spark.read.schema(
        "grp string, bin long, c long, total long, w0 double, width double, "
        "origin double, gmin double, gmax double, bins int, fixed boolean"
    ).parquet(os.path.join(state_path, "hist", f"epoch={committed}")).collect()
    out_schema = "group string, p double, value double, lb double, ub double"
    by_g: dict = {}
    for r in rows:
        if r["grp"] is None:
            continue
        s = by_g.setdefault(r["grp"], {"meta": None, "hist": []})
        if r["bin"] is None:
            s["meta"] = r
        else:
            s["hist"].append((int(r["bin"]), int(r["c"])))
    out = []
    for g in sorted(by_g):
        meta = by_g[g]["meta"]
        total = int(meta["total"])
        if total == 0:
            continue
        width, origin = float(meta["width"]), float(meta["origin"])
        gmin, gmax = float(meta["gmin"]), float(meta["gmax"])
        nbins, fixed = int(meta["bins"]), bool(meta["fixed"])
        hist = sorted(by_g[g]["hist"])
        targets = sorted((max(1, math.ceil(p * total)), float(p)) for p in probs)
        cum = 0
        ti = 0
        for b, c in hist:
            while ti < len(targets) and cum < targets[ti][0] <= cum + c:
                blo = origin + b * width
                bhi = blo + width
                lb = gmin if (fixed and b == 0) else max(blo, gmin)
                ub = gmax if (fixed and b == nbins - 1) else min(bhi, gmax)
                out.append((g, targets[ti][1], ub, lb, ub))
                ti += 1
            cum += c
            if ti == len(targets):
                break
    return spark.createDataFrame(out, out_schema)


def stream_group_value_histogram(
    values: DataFrame,
    state_path: str,
    checkpoint: str,
    group_col: str,
    col: str,
    **kwargs,
):
    """Keep per-group quantile histograms current from a stream (see
    ``fold_group_value_histogram_batch``). Returns the StreamingQuery;
    read estimates with ``read_group_quantile_state``."""
    return start_fold_stream(
        values,
        checkpoint,
        lambda batch_df, epoch_id: fold_group_value_histogram_batch(
            batch_df, epoch_id, state_path, group_col, col, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# Streaming mergeable distinct count: one HLL sketch as the whole state
# ---------------------------------------------------------------------------


# the value types hll_sketch_agg takes: TINYINT and SMALLINT are not
# widened to INT, and FLOAT, DOUBLE and DECIMAL are refused
_HLL_TYPES = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def _check_distinct_count_args(batch_df: DataFrame, col: str, lgk: int) -> None:
    """The distinct-count folds' argument checks, run before the replay
    guard; the column type comes from the analyzed schema (no job)."""
    if not 4 <= int(lgk) <= 21:
        raise ValueError("lgk must be in [4, 21]")
    dtype = batch_df.select(col).schema[0].dataType
    if not isinstance(dtype, _HLL_TYPES):
        raise ValueError(
            f"col {col!r} is {dtype.simpleString()}; a distinct-count sketch "
            "takes INT, BIGINT, STRING or BINARY values"
        )


def fold_distinct_count_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    col: str,
    lgk: int = 12,
) -> None:
    """One micro-batch fold of STREAMING DISTINCT COUNT: the state is a
    single HyperLogLog sketch (Spark's built-in Apache DataSketches HLL
    — ``hll_sketch_agg``/``hll_union``) plus the exact running row
    total — O(2^lgk) bytes forever, never a distinct-key set. The
    cardinality sibling of ``fold_heavy_hitters_batch`` /
    ``fold_value_histogram_batch``: vocabulary-growth tracking, unique
    users/documents — questions whose exact form
    (``groupBy(col).count()`` or a distinct shuffle) tracks every key
    at 100 TB.

    Why this shape scales: ``hll_sketch_agg`` is a JVM-side declarative
    aggregate — partial sketches build per partition and merge up the
    normal aggregation tree (map-side combine; no Python, no explode,
    no key shuffle), and the epoch merge is one ``hll_union`` of two
    sketch blobs. Estimates are exact while the sketch is in its
    coupon (sparse) range — roughly up to a few hundred distinct at
    lgk=12, growing with lgk — then carry the standard HLL relative
    error ≈ 1.04/sqrt(2^lgk) (~1.6% at lgk=12); both regimes are
    deterministic in (values, lgk), which is what the degenerate-exact
    oracle twin pins. NULLs are excluded (not a value). Exactly-once
    by the fold protocol (``operators/incremental.py``); ``lgk`` drift across a state's
    lifetime raises (sketch configs must match to union losslessly).
    Read with ``read_distinct_count_state``.
    """
    _check_distinct_count_args(batch_df, col, lgk)
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return

    vals = batch_df.select(F.col(col).alias("v")).where(F.col("v").isNotNull())
    agg = vals.agg(
        F.hll_sketch_agg("v", int(lgk)).alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).collect()[0]
    batch_sketch, batch_n = agg["sk"], int(agg["n"])

    SCHEMA = "sketch binary, total long, lgk int"
    root = os.path.join(state_path, "sketch")
    prior_eps = epoch_ids(root, below=epoch_id)
    sketch, total = None, 0
    if prior_eps:
        prev = spark.read.schema(SCHEMA).parquet(
            os.path.join(root, f"epoch={max(prior_eps)}")
        ).collect()
        if prev:
            if int(prev[0]["lgk"]) != int(lgk):
                raise ValueError(
                    "fold_distinct_count_batch: lgk differs from the state's "
                    "— sketches with different configs don't union losslessly; "
                    "keep lgk fixed for a state's lifetime"
                )
            sketch, total = prev[0]["sketch"], int(prev[0]["total"])

    if batch_sketch is not None and sketch is not None:
        # one-row union of the two blobs — hll_union is the
        # DataSketches lossless merge (allowDifferentLgConfigK=false:
        # config drift must raise, not silently degrade)
        sketch = spark.createDataFrame(
            [(sketch, batch_sketch)], "a binary, b binary"
        ).select(F.hll_union("a", "b", False).alias("u")).collect()[0]["u"]
    elif batch_sketch is not None:
        sketch = batch_sketch
    total += batch_n

    rows = [(sketch, total, int(lgk))]
    # repartition(1), NOT coalesce(1): the python-local-DF pitfall
    # documented at the heavy-hitters state write above
    spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"epoch={int(epoch_id)}"))
    commit_epoch(state_path, epoch_id)


def read_distinct_count_state(spark, state_path: str) -> DataFrame:
    """(n_distinct, total) from the folded sketch: the HLL estimate
    (exact in the sparse range, ≈1.04/sqrt(2^lgk) relative error
    beyond) and the exact row total. Reads only the COMMITTED epoch
    (the marker — the crash-window contract applies to
    external readers too)."""
    committed = committed_epoch(state_path, "read_distinct_count_state")
    rows = spark.read.schema("sketch binary, total long, lgk int").parquet(
        os.path.join(state_path, "sketch", f"epoch={committed}")
    )
    return rows.select(
        F.when(
            F.col("sketch").isNotNull(), F.hll_sketch_estimate("sketch")
        ).otherwise(F.lit(0)).cast("long").alias("n_distinct"),
        F.col("total").alias("total"),
    )


def stream_distinct_count(
    values: DataFrame,
    state_path: str,
    checkpoint: str,
    col: str,
    **kwargs,
):
    """Keep a bounded distinct-count sketch current from a stream (see
    ``fold_distinct_count_batch``). Returns the StreamingQuery; read
    the estimate with ``read_distinct_count_state``."""
    return start_fold_stream(
        values,
        checkpoint,
        lambda batch_df, epoch_id: fold_distinct_count_batch(
            batch_df, epoch_id, state_path, col, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# Per-group streaming heavy hitters: one MG summary per group
# ---------------------------------------------------------------------------


def fold_group_heavy_hitters_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    group_col: str,
    col: str,
    capacity: int = 4096,
) -> None:
    """PER-GROUP streaming heavy hitters — the production shape of
    ``fold_heavy_hitters_batch`` (top tokens per language/source, top
    URLs per domain class): state is one bounded Misra–Gries summary
    PER GROUP — ≤ |groups|·(capacity+1) tiny rows, the |groups|-bounded
    driver contract shared with the per-group quantile fold. Each
    group's summary evolves independently with its own total, so the
    mergeable error bound est ≤ true ≤ est + floor(N_g/(capacity+1))
    holds PER GROUP regardless of how skewed the group sizes are.

    Each fold: one ``mapInPandas`` pass builds per-(partition, group)
    summaries (executor state bounded by groups-in-partition ×
    capacity), ONE group-keyed shuffle co-locates each group's
    summaries, and incremental add-then-trim merges per group (valid
    mergeable-summaries MERGEs for any merge tree — the cumulative
    decrement stays ≤ N_g/(capacity+1) — applied per Arrow batch so a
    merger's dict never grows to partitions × capacity entries) yield
    ≤ capacity counters per group before the |groups|-bounded state
    rewrite. Never a full-vocabulary shuffle.
    NULL groups are excluded (not attributable). Exactly-once by the
    fold protocol (``operators/incremental.py``); capacity drift across a state's lifetime
    raises. Read with ``read_group_heavy_hitters_state``.
    """
    if capacity < 1:
        raise ValueError("capacity must be ≥ 1")
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return

    cap = int(capacity)
    items = batch_df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(col).cast("string").alias("item"),
    ).where(F.col("g").isNotNull() & F.col("item").isNotNull())

    def summaries(batches: "Iterator") -> "Iterator":
        import pandas as pd

        accs: dict = {}
        ns: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf.groupby("g")["item"].value_counts()
            for g, sub in vc.groupby(level=0):
                d = {k: int(v) for k, v in sub.droplevel(0).items()}
                ns[g] = ns.get(g, 0) + sum(d.values())
                accs[g] = _mg_fold(accs.get(g, {}), d, cap)
        rows = [(g, i, int(c)) for g, cs in accs.items() for i, c in cs.items()]
        rows += [(g, None, int(n)) for g, n in ns.items()]
        yield pd.DataFrame(rows, columns=["g", "item", "est"])

    def merge(batches: "Iterator") -> "Iterator":
        import pandas as pd

        accs: dict = {}
        ns: dict = {}
        for pdf in batches:
            # trim per Arrow batch, not once at the end: buffering every
            # incoming summary before a single trim would grow a group's
            # dict to partitions × capacity entries (executor OOM at wide
            # scans); incremental add-then-trim merges are equally valid
            # mergeable-summaries MERGEs (any merge tree keeps the
            # decrement ≤ N_g/(cap+1)), and bound the dict at capacity +
            # one Arrow batch's rows
            adds: dict = {}
            for g, item, est in zip(pdf["g"], pdf["item"], pdf["est"]):
                if item is None:
                    ns[g] = ns.get(g, 0) + int(est)
                else:
                    d = adds.setdefault(g, {})
                    d[item] = d.get(item, 0) + int(est)
            for g, d in adds.items():
                accs[g] = _mg_fold(accs.get(g, {}), d, cap)
        rows = [
            (g, i, int(c)) for g, d in accs.items() for i, c in d.items()
        ]
        rows += [(g, None, int(n)) for g, n in ns.items()]
        yield pd.DataFrame(rows, columns=["g", "item", "est"])

    merged = (
        items.mapInPandas(summaries, "g string, item string, est long")
        .repartition(spark.sparkContext.defaultParallelism, "g")
        .mapInPandas(merge, "g string, item string, est long")
        .collect()
    )
    batch_counters: dict = {}
    batch_ns: dict = {}
    for r in merged:
        if r["item"] is None:
            batch_ns[r["g"]] = batch_ns.get(r["g"], 0) + int(r["est"])
        else:
            d = batch_counters.setdefault(r["g"], {})
            d[r["item"]] = d.get(r["item"], 0) + int(r["est"])

    SCHEMA = "grp string, item string, est long, total long, capacity int"
    root = os.path.join(state_path, "summary")
    prior_eps = epoch_ids(root, below=epoch_id)
    state: dict = {}
    totals: dict = {}
    if prior_eps:
        prev = spark.read.schema(SCHEMA).parquet(
            os.path.join(root, f"epoch={max(prior_eps)}")
        ).collect()
        if prev and int(prev[0]["capacity"]) != cap:
            raise ValueError(
                f"fold_group_heavy_hitters_batch: capacity {cap} != state "
                f"capacity {int(prev[0]['capacity'])} — the per-group error "
                "bound would be wrong; keep capacity fixed for a state's "
                "lifetime"
            )
        for r in prev:
            if r["grp"] is None:  # empty-epoch sentinel
                continue
            totals[r["grp"]] = int(r["total"])
            if r["item"] is not None:
                state.setdefault(r["grp"], {})[r["item"]] = int(r["est"])

    for g in set(batch_counters) | set(batch_ns):
        state[g] = _mg_fold(state.get(g, {}), batch_counters.get(g, {}), cap)
        totals[g] = totals.get(g, 0) + batch_ns.get(g, 0)

    rows = []
    for g in sorted(totals):
        t = int(totals[g])
        rows += [(g, i, int(c), t, cap) for i, c in sorted(state.get(g, {}).items())]
        rows.append((g, None, 0, t, cap))
    if not rows:
        rows = [(None, None, 0, 0, cap)]
    # repartition(1), NOT coalesce(1): the python-local-DF pitfall
    # documented at the heavy-hitters state write above
    spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"epoch={int(epoch_id)}"))
    commit_epoch(state_path, epoch_id)


def read_group_heavy_hitters_state(spark, state_path: str, k: int = 20) -> DataFrame:
    """Per-group top-k estimates with per-group honest bounds:
    (group, item, est, lb, ub, rank) where lb = est and ub = est +
    floor(total_g/(capacity+1)) — true count ∈ [est, ub] for every
    (group, item), including items absent from that group's summary
    (est implicitly 0). Reads only the COMMITTED epoch; the driver-side
    read is bounded by the |groups|·(capacity+1) state contract."""
    committed = committed_epoch(state_path, "read_group_heavy_hitters_state")
    rows = spark.read.schema(
        "grp string, item string, est long, total long, capacity int"
    ).parquet(os.path.join(state_path, "summary", f"epoch={committed}"))
    rows = rows.where(F.col("grp").isNotNull() & F.col("item").isNotNull())
    err = F.floor(F.col("total") / (F.col("capacity") + 1)).cast("long")
    w = Window.partitionBy("grp").orderBy(F.col("est").desc(), F.col("item").asc())
    return (
        rows.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            F.col("grp").alias("group"),
            "item",
            "est",
            F.col("est").alias("lb"),
            (F.col("est") + err).alias("ub"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def stream_group_heavy_hitters(
    docs: DataFrame,
    state_path: str,
    checkpoint: str,
    group_col: str,
    col: str,
    **kwargs,
):
    """Keep per-group heavy-hitter summaries current from a stream (see
    ``fold_group_heavy_hitters_batch``). Returns the StreamingQuery;
    read with ``read_group_heavy_hitters_state``."""
    return start_fold_stream(
        docs,
        checkpoint,
        lambda batch_df, epoch_id: fold_group_heavy_hitters_batch(
            batch_df, epoch_id, state_path, group_col, col, **kwargs
        ),
    )


def fold_group_distinct_count_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    group_col: str,
    col: str,
    lgk: int = 12,
) -> None:
    """PER-GROUP streaming distinct count — the cardinality member of
    the per-group trio (quantiles, heavy hitters, cardinality): unique
    users per event type, distinct domains per language. State is one
    HLL sketch PER GROUP plus each group's exact row total —
    ≤ |groups| · O(2^lgk) bytes, the |groups|-bounded contract.

    Each fold is ONE declarative aggregation:
    ``groupBy(group).agg(hll_sketch_agg, count)`` — JVM-side partial
    sketches with map-side combine, so the shuffle carries ≤ |groups| ×
    partitions sketch blobs, never values — then a driver-side
    ``hll_union`` per group against the persisted blobs (bounded by
    |groups|). NULL groups and NULL values are excluded. Exactness /
    error regimes and the lgk-drift raise follow
    ``fold_distinct_count_batch``. Read with
    ``read_group_distinct_count_state``.
    """
    _check_distinct_count_args(batch_df, col, lgk)
    spark = batch_df.sparkSession
    if epoch_already_applied(state_path, epoch_id):
        return

    vals = batch_df.select(
        F.col(group_col).cast("string").alias("g"), F.col(col).alias("v")
    ).where(F.col("g").isNotNull() & F.col("v").isNotNull())
    batch = {
        r["g"]: (r["sk"], int(r["n"]))
        for r in vals.groupBy("g")
        .agg(
            F.hll_sketch_agg("v", int(lgk)).alias("sk"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()
    }

    SCHEMA = "grp string, sketch binary, total long, lgk int"
    root = os.path.join(state_path, "sketch")
    prior_eps = epoch_ids(root, below=epoch_id)
    state: dict = {}
    if prior_eps:
        prev = spark.read.schema(SCHEMA).parquet(
            os.path.join(root, f"epoch={max(prior_eps)}")
        ).collect()
        if prev and int(prev[0]["lgk"]) != int(lgk):
            raise ValueError(
                "fold_group_distinct_count_batch: lgk differs from the "
                "state's — sketches with different configs don't union "
                "losslessly; keep lgk fixed for a state's lifetime"
            )
        for r in prev:
            if r["grp"] is None:  # empty-epoch sentinel
                continue
            state[r["grp"]] = (r["sketch"], int(r["total"]))

    both = [
        (g, state[g][0], batch[g][0])
        for g in batch
        if g in state and state[g][0] is not None and batch[g][0] is not None
    ]
    merged = {}
    if both:
        # one bounded job: |groups-in-both| rows, each one hll_union
        for r in spark.createDataFrame(
            both, "g string, a binary, b binary"
        ).select("g", F.hll_union("a", "b", False).alias("u")).collect():
            merged[r["g"]] = r["u"]
    for g, (sk, n) in batch.items():
        if g in state:
            prev_sk, prev_n = state[g]
            state[g] = (merged.get(g, sk if sk is not None else prev_sk),
                        prev_n + n)
        else:
            state[g] = (sk, n)

    rows = [(g, sk, int(n), int(lgk)) for g, (sk, n) in sorted(state.items())]
    if not rows:
        rows = [(None, None, 0, int(lgk))]
    # repartition(1), NOT coalesce(1): the python-local-DF pitfall
    # documented at the heavy-hitters state write above
    spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"epoch={int(epoch_id)}"))
    commit_epoch(state_path, epoch_id)


def read_group_distinct_count_state(spark, state_path: str) -> DataFrame:
    """(group, n_distinct, total) per group from the folded sketches
    (regimes as ``read_distinct_count_state``, per group). Reads only
    the COMMITTED epoch; bounded by the |groups| contract."""
    committed = committed_epoch(state_path, "read_group_distinct_count_state")
    rows = spark.read.schema("grp string, sketch binary, total long, lgk int").parquet(
        os.path.join(state_path, "sketch", f"epoch={committed}")
    )
    return rows.where(F.col("grp").isNotNull()).select(
        F.col("grp").alias("group"),
        F.when(F.col("sketch").isNotNull(), F.hll_sketch_estimate("sketch"))
        .otherwise(F.lit(0)).cast("long").alias("n_distinct"),
        F.col("total").alias("total"),
    )


def stream_group_distinct_count(
    values: DataFrame,
    state_path: str,
    checkpoint: str,
    group_col: str,
    col: str,
    **kwargs,
):
    """Keep per-group distinct-count sketches current from a stream
    (see ``fold_group_distinct_count_batch``). Returns the
    StreamingQuery; read with ``read_group_distinct_count_state``."""
    return start_fold_stream(
        values,
        checkpoint,
        lambda batch_df, epoch_id: fold_group_distinct_count_batch(
            batch_df, epoch_id, state_path, group_col, col, **kwargs
        ),
    )
