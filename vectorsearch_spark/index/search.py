"""Batch KNN search: the Spark re-expression of
``fdb/FdbVectorIndex.query`` (fdb/FdbVectorIndex.java:351-479).

``search`` and ``search_join`` are one pipeline. Both keep the query
side a DataFrame (never collected to the driver); they differ only in
what ``mode="AUTO"`` means — PQ two-phase for ``search``, exhaustive
for ``search_join``. The pipeline has four steps:

1. registry dispatch → seg_ids by state (WRITING excluded,
   fdb/FdbVectorIndex.java:631-655); ``mode="BRUTE"`` sends every
   segment to step 2;
2. one exact brute-force scan of the ACTIVE/PENDING segments (filter
   deleted → score → per-segment top-k, fdb/FdbVectorIndex.java:660-725)
   with the NumPy GEMM kernel of ``operators/knn.py``;
3. one in-task candidate generator per mode for the SEALED/COMPACTING
   segments, over the PQ codes (and the neighbor graph):
   - PQ: asymmetric LUT distances over the whole segment (L2² LUT,
     fdb/FdbVectorIndex.java:1057-1079), top-ef per (query, segment);
   - GRAPH: best-first ef-search (fdb/FdbVectorIndex.java:911-968)
     from PQ or random-pivot seeds (794-812);
   - BEAM: the deprecated beam expansion (diskannExpand, 841-903);
   ef is auto-tuned by segment size (adaptation of 772-784), and when
   ef ≥ segment rows every row is a candidate — the degenerate rule
   that makes every exhaustive twin equal brute force;
4. one exact re-rank of the candidates (join back to raw vectors,
   true-metric rescore, tombstone filter, fdb/FdbVectorIndex.java:
   970-1046; optional normalize-on-read, 823-826), per-segment cap
   max(k, k·oversample) (api/SearchParams.java:73-82), then the global
   merge → top-k by score with gid tie-break (432-437).

Steps 2 and 3 share one fragment-and-replicate cogroup: the segment's
rows are bucketed by hash(seg_id), so a segment lives in exactly one
task, and the query DataFrame is replicated to every bucket. Both emit
bounded candidate sets per (query, segment), so no shuffle past the
scan is ever O(N); the codes scan never reads the embeddings, which
only the re-rank touches: it scans them once and cuts them to the
candidate rows (a broadcast semi-join) before any shuffle.
"""

from __future__ import annotations

import heapq
import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_spark.config import (
    SEARCHABLE_BRUTE,
    SEARCHABLE_SEALED,
    Metric,
)
from vectorsearch_spark.functions.distances import (
    distance_for_metric,
    normalize,
    score_from_distance,
)
from vectorsearch_spark.index.catalog import PQ_SEED_ONLY, SearchParams, VectorIndex
from vectorsearch_spark.operators.knn import partial_topk
from vectorsearch_spark.operators.pq import approx_distances, build_lut

_CAND_SCHEMA = "query_id long, seg_id int, vec_id int"
_HIT_SCHEMA = "query_id long, gid long, distance double"
_RESULT_SCHEMA = (
    "query_id long, gid long, distance double, score double, payload binary, rank int"
)
_PANDAS_TYPES = {"long": "int64", "int": "int32", "double": "float64"}
# queries scored against one segment at a time inside a cogroup task:
# bounds the dense (segment rows × queries) working set of the scans
_Q_BLOCK = 1024


def default_ef(k: int, oversample: int) -> int:
    """SearchParams.defaults: ef = max(100, k*oversample*4)
    (api/SearchParams.java:74-82)."""
    return max(100, k * oversample * 4)


def tuned_ef(ef_base: int, k: int, n_codes: int) -> int:
    """Scale the candidate pool with segment size, clamped to [k, n] —
    adaptation of the reference's auto-tuning by nCodes
    (fdb/FdbVectorIndex.java:772-784)."""
    scale = max(1.0, math.sqrt(n_codes / 100_000.0))
    return max(k, min(n_codes, int(round(ef_base * scale))))


_BEAM_WARNED = False


def _warn_beam_once() -> None:
    """WARN-once parity with the reference's deprecated BEAM mode
    (fdb/FdbVectorIndex.java:369-372 + BeamWarn): the mode keeps
    working — a migrating user's queries run unchanged — but logs the
    same deprecation nudge, exactly once per process."""
    global _BEAM_WARNED
    if not _BEAM_WARNED:
        _BEAM_WARNED = True
        import warnings

        warnings.warn(
            "Search mode BEAM is deprecated; prefer GRAPH (best-first).",
            DeprecationWarning,
            stacklevel=4,
        )


def search(
    index: VectorIndex,
    queries: DataFrame,
    k: int = 10,
    params: SearchParams | None = None,
    filter_gids: DataFrame | None = None,
) -> DataFrame:
    """Batch KNN: (query_id, embedding) → (query_id, gid, distance,
    score, payload, rank) with ≤ k rows per query. ``mode="AUTO"`` is
    the PQ two-phase plan over sealed segments.

    ``filter_gids`` (optional, a DataFrame with a ``gid`` column) is
    metadata-filtered ANN — the production vector-store feature where a
    predicate restricts the searchable set. The allow-list PRE-filters
    the brute scan and the PQ codes scan (semi-joins before any
    scoring), so candidate pools are spent on allowed vectors only —
    not post-filtered after top-k, which would underfill selective
    filters. BRUTE and the degenerate-exact configs are therefore EXACT
    over the filtered set. GRAPH/BEAM traversal stays unfiltered (the
    standard filtered-HNSW stance: disallowed nodes remain traversable
    so allowed regions stay reachable through them) and disallowed
    results are dropped at the exact re-rank; very selective filters
    warrant a larger ef/oversample, the usual pre-filter ANN trade.
    """
    return _search(index, queries, k, params or SearchParams(), filter_gids, "PQ")


def search_join(
    index: VectorIndex,
    queries: DataFrame,
    k: int = 10,
    params: SearchParams | None = None,
    filter_gids: DataFrame | None = None,
) -> DataFrame:
    """``search`` with ``mode="AUTO"`` meaning exhaustive-exact: every
    segment goes through the brute scan, so the result is exact without
    opting in. PQ, GRAPH and BEAM run exactly as in ``search``."""
    return _search(index, queries, k, params or SearchParams(), filter_gids, "BRUTE")


def _search(
    index: VectorIndex,
    queries: DataFrame,
    k: int,
    params: SearchParams,
    filter_gids: DataFrame | None,
    auto_mode: str,
) -> DataFrame:
    mode = auto_mode if params.mode == "AUTO" else params.mode
    if mode == "BEAM":
        _warn_beam_once()
    cfg = index.config
    metric = Metric(cfg.metric)
    allowed = (
        filter_gids.select(F.col("gid").cast("long").alias("gid")).distinct()
        if filter_gids is not None
        else None
    )
    q = queries.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("embedding").alias("__qvec"),
    )
    emb = F.col("embedding")
    if params.normalize_on_read:
        emb = normalize(emb).cast("array<float>")
    per_seg_limit = params.per_seg_limit or max(k, k * cfg.oversample)

    # 1. dispatch: the registry is driver-side, O(#segments)
    seg_rows = index._segment_rows()
    brute_segs = [r["seg_id"] for r in seg_rows if r["state"] in SEARCHABLE_BRUTE]
    sealed_segs = [r["seg_id"] for r in seg_rows if r["state"] in SEARCHABLE_SEALED]
    if mode == "BRUTE":
        brute_segs, sealed_segs = brute_segs + sealed_segs, []

    parts: list[DataFrame] = []
    if brute_segs:
        parts.append(
            _brute_scan(index, q, brute_segs, metric, emb, allowed, per_seg_limit)
        )
    if sealed_segs:
        counts = {r["seg_id"]: r["count"] + r["deleted_count"] for r in seg_rows}
        ef_base = params.ef or default_ef(k, cfg.oversample)
        ef_by_seg = {
            s: tuned_ef(ef_base, k, max(counts.get(s, 1), 1)) for s in sealed_segs
        }
        if mode == "PQ":
            cand = _pq_cogroup_candidates(
                index, q, sealed_segs, ef_by_seg, metric, allowed
            )
        else:
            cand = _graph_cogroup_candidates(
                index, q, sealed_segs, ef_by_seg, metric, params, mode, k
            )
        parts.append(
            _exact_rerank(index, cand, q, metric, emb, allowed, per_seg_limit)
        )
    if not parts:
        return index.spark.createDataFrame([], _RESULT_SCHEMA)
    return _merge_and_attach(index, reduce(DataFrame.unionByName, parts), k, metric)


def _cogroup_scan(side: DataFrame, q: DataFrame, n_segs: int, per_segment, schema: str):
    """Fragment-and-replicate cogroup shared by the brute scan and the
    candidate generators: ``side`` rows (seg_id, vec_id, ...) bucket by
    hash(seg_id), so a whole segment meets the queries in one task; the
    query DF replicates to every bucket via ``explode(sequence(0,
    B-1))`` — a Q×B-row shuffle of the SMALL side. Nothing is collected
    to the driver; the big side shuffles once on the bucket key.

    ``per_segment(seg_id, rows, qids, qmat)`` gets one segment's rows
    sorted by vec_id (results must not depend on partition read order)
    and one block of at most ``_Q_BLOCK`` queries as a (B, d) float64
    matrix, and returns a pandas frame of ``schema`` or None; every
    query's rows depend on that query alone, so blocking leaves the
    output unchanged. Task memory is one bucket's rows (one bucket per
    segment, capped at 256 buckets), the Q replicated query rows, and
    one block's working set: the brute scan's (segment rows ×
    ``_Q_BLOCK``) distance matrix, or ``_Q_BLOCK`` LUTs."""
    n_buckets = min(max(n_segs, 1), 256)
    side = side.withColumn("__b", F.pmod(F.hash("seg_id"), F.lit(n_buckets)))
    q_rep = q.withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))))
    empty = pd.DataFrame(
        {
            name: pd.Series(dtype=_PANDAS_TYPES[typ])
            for name, typ in (f.split() for f in schema.split(","))
        }
    )

    def fn(side_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(side_pdf) == 0 or len(q_pdf) == 0:
            return empty
        qids = q_pdf["query_id"].to_numpy(dtype=np.int64)
        qmat = np.stack(q_pdf["__qvec"].to_numpy()).astype(np.float64)
        side_pdf = side_pdf.sort_values(["seg_id", "vec_id"], kind="stable")
        out = [
            per_segment(int(seg_id), rows, qids[i : i + _Q_BLOCK], qmat[i : i + _Q_BLOCK])
            for seg_id, rows in side_pdf.groupby("seg_id", sort=False)
            for i in range(0, len(qids), _Q_BLOCK)
        ]
        out = [o for o in out if o is not None]
        return pd.concat(out, ignore_index=True) if out else empty

    return side.groupBy("__b").cogroup(q_rep.groupBy("__b")).applyInPandas(fn, schema)


def _brute_scan(index, q, segs, metric, emb: Column, allowed, limit: int) -> DataFrame:
    """Step 2: exact per-segment top-``limit`` over the live rows of
    ``segs`` with the GEMM kernel (``operators.knn.partial_topk``),
    which re-scores its survivors with the exact kernel."""
    vec = index.vectors().filter(F.col("seg_id").isin(segs) & ~F.col("deleted"))
    if allowed is not None:
        vec = vec.join(allowed, "gid", "left_semi")
    vec = vec.select("seg_id", "vec_id", "gid", emb.alias("embedding"))

    def per_segment(seg_id, rows, qids, qmat):
        vmat = np.stack(rows["embedding"].to_numpy()).astype(np.float64)
        gids = rows["gid"].to_numpy(dtype=np.int64)
        hits = partial_topk(gids, vmat, qids, qmat, limit, metric)
        return hits.rename(columns={"id": "gid"})

    return _cogroup_scan(vec, q, len(segs), per_segment, _HIT_SCHEMA)


def _candidate_scan(index, q, side, sealed_segs, ef_by_seg, metric, pick) -> DataFrame:
    """Step 3 frame shared by the generators: per (segment, query) the
    candidate rows ``pick`` chooses, or every row when ef ≥ segment
    rows. ``side`` holds code rows (seg_id, vec_id, codes), plus, with
    a ``kind`` column, the adjacency rows the GRAPH generator reads;
    ``pick(seg_id, rows, vec_ids, mat, ef, luts)`` sees the segment's
    vec_id-sorted code matrix and one LUT per query, and returns one
    array of row positions per query.

    The codebooks (and OPQ rotations) ride a Spark broadcast from the
    driver cache (SegmentCaches analog): shipped once per executor,
    and no Spark job when the sealed set is unchanged since the last
    search."""
    sc = index.spark.sparkContext
    cbs_bc = sc.broadcast(index.codebooks_np(sealed_segs))
    rots_bc = sc.broadcast(index.rotations_np(sealed_segs))

    def per_segment(seg_id, rows, qids, qmat):
        cb = cbs_bc.value.get(seg_id)
        codes = rows[rows["kind"] == "code"] if "kind" in rows else rows
        n = len(codes)
        if cb is None or n == 0:
            return None
        vec_ids = codes["vec_id"].to_numpy(dtype=np.int64)
        ef = ef_by_seg[seg_id]
        if ef >= n:
            picked = [np.arange(n)] * len(qids)
        else:
            mat = np.frombuffer(
                b"".join(codes["codes"].to_numpy()), dtype=np.uint8
            ).reshape(n, cb.shape[0])
            qvecs = list(qmat)
            if metric == Metric.COSINE:
                # codebooks were trained/encoded on unit vectors
                # (build.py); a unit query makes the L2² LUT ranking
                # exactly monotone in cosine distance (‖v̂−q̂‖² = 2−2·cos)
                # — normalize-on-read analog, fdb/FdbVectorIndex.java:1006-1013
                qvecs = [(v / nrm if (nrm := np.linalg.norm(v)) > 0.0 else v) for v in qvecs]
            # OPQ: codes were encoded in rotated space, so the LUT is
            # built from the rotated query
            rot = rots_bc.value.get(seg_id)
            luts = [build_lut(cb, v @ rot if rot is not None else v) for v in qvecs]
            picked = pick(seg_id, rows, vec_ids, mat, ef, luts)
        sizes = [len(p) for p in picked]
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, sizes),
                "seg_id": np.full(sum(sizes), seg_id, dtype=np.int32),
                "vec_id": vec_ids[np.concatenate(picked)].astype(np.int32),
            }
        )

    return _cogroup_scan(side, q, len(sealed_segs), per_segment, _CAND_SCHEMA)


def _pq_cogroup_candidates(index, q, sealed_segs, ef_by_seg, metric, allowed) -> DataFrame:
    """PQ generator: LUT distances over every code row of the segment,
    top-ef per (query, segment). Reads only (seg_id, vec_id, codes).
    The allow-list pre-filters the codes side: the candidate pool is
    spent on allowed vectors only."""
    codes = index.codes(sealed_segs)
    if allowed is not None:
        allowed_sv = (
            index.vectors(states=SEARCHABLE_SEALED)
            .join(allowed, "gid", "left_semi")
            .select("seg_id", "vec_id")
        )
        codes = codes.join(allowed_sv, ["seg_id", "vec_id"], "left_semi")

    def pick(seg_id, rows, vec_ids, mat, ef, luts):
        return [np.argpartition(approx_distances(mat, lut), ef - 1)[:ef] for lut in luts]

    return _candidate_scan(index, q, codes, sealed_segs, ef_by_seg, metric, pick)


def _graph_cogroup_candidates(
    index, q, sealed_segs, ef_by_seg, metric, params: SearchParams, mode: str, k: int
) -> DataFrame:
    """GRAPH/BEAM generator: ONE scan of the unified artifacts table
    serves codes AND adjacency rows (kind ∈ {code, adj}); the task
    reassembles them, so no join materializes the (codes ⋈ adjacency)
    pair. Task memory is one segment's codes (N·m bytes) + neighbor
    lists (N·degree ints), within the segment-bounded build-task
    contract.

    Seeds per (query, segment), per ``params.seed_strategy``:
    - PQ_SEED_ONLY (GRAPH): the top-``beam`` rows by LUT distance over
      the segment's codes — the reference's default seeding
      (fdb/FdbVectorIndex.java:794-799);
    - RANDOM_PIVOTS (GRAPH; always for BEAM): ``pivots`` deterministic
      pseudo-random rows seeded by (index seed, seg_id), shared across
      the query batch (801-812), with LUT distances computed lazily
      for visited nodes only.
    Neighbors whose artifacts were vacuumed away are skipped;
    tombstoned-but-unvacuumed nodes are filtered at the exact re-rank.
    """
    artifacts = index._artifacts().filter(
        F.col("kind").isin("code", "adj") & F.col("seg_id").isin(sealed_segs)
    ).select("seg_id", "kind", "vec_id", "codes", "neighbor_ids")
    seed = index.config.seed
    pq_seeds = mode == "GRAPH" and params.seed_strategy == PQ_SEED_ONLY

    def pick(seg_id, rows, vec_ids, mat, ef, luts):
        n = len(vec_ids)
        adj = rows[rows["kind"] == "adj"]
        nbrs: dict[int, np.ndarray] = {}
        for v, nb in zip(adj["vec_id"].to_numpy(), adj["neighbor_ids"]):
            nb = np.asarray(nb, dtype=np.int64)
            at = np.minimum(np.searchsorted(vec_ids, nb), n - 1)
            src = int(np.searchsorted(vec_ids, v))
            if src < n and vec_ids[src] == v:
                nbrs[src] = at[vec_ids[at] == nb]
        beam = params.beam or max(k, ef // 4)
        if not pq_seeds:
            n_seeds = min(max(params.pivots, 1), n)
            rng = np.random.default_rng((seed << 16) ^ seg_id)
            pivots = rng.choice(n, size=n_seeds, replace=False)
        cols = np.arange(mat.shape[1])
        out = []
        for lut in luts:
            if pq_seeds:
                full = approx_distances(mat, lut)
                b = min(beam, n)
                seeds = np.argpartition(full, b - 1)[:b] if b < n else np.arange(n)
                dist = full.__getitem__
            else:
                seeds = pivots

                def dist(idx, lut=lut):
                    return lut[cols[None, :], mat[idx]].sum(axis=1)

            if mode == "BEAM":
                out.append(_beam_expand(dist, seeds, nbrs, n, ef, beam, params))
            else:
                out.append(
                    _best_first(dist, seeds, nbrs, n, ef, params.max_iters, params.max_explore)
                )
        return out

    return _candidate_scan(index, q, artifacts, sealed_segs, ef_by_seg, metric, pick)


def _best_first(dist, seeds, nbrs, n, ef, max_iters, max_explore) -> np.ndarray:
    """Best-first ef-search (fdb/FdbVectorIndex.java:911-968) over one
    segment for one query: an ef-bounded best list, expansion of the
    nearest unexpanded candidate, and the stop rule "nearest unexpanded
    candidate is worse than the ef-th best". A node found h hops from a
    seed is expanded only while h < ``max_iters`` (0 = seeds only), and
    at most ``max_explore`` nodes are visited, seeds included (the seeds
    themselves are never cut). Returns the best list's row positions."""
    visited = np.zeros(n, dtype=bool)
    visited[seeds] = True
    hops = np.zeros(n, dtype=np.int64)
    budget = (n if max_explore is None else max_explore) - len(seeds)
    cand = [(float(d), int(i)) for d, i in zip(dist(seeds), seeds)]
    heapq.heapify(cand)
    # best list = max-heap of (-d, row)
    best = [(-d, i) for d, i in cand]
    heapq.heapify(best)
    while len(best) > ef:
        heapq.heappop(best)
    while cand and budget > 0:
        d, v = heapq.heappop(cand)
        if len(best) >= ef and d > -best[0][0]:
            break
        if hops[v] >= max_iters or v not in nbrs:
            continue
        new = nbrs[v][~visited[nbrs[v]]][:budget]
        if not len(new):
            continue
        visited[new] = True
        hops[new] = hops[v] + 1
        budget -= len(new)
        for di, i in zip(dist(new), new):
            di, i = float(di), int(i)
            if len(best) < ef or di < -best[0][0]:
                heapq.heappush(cand, (di, i))
                heapq.heappush(best, (-di, i))
                if len(best) > ef:
                    heapq.heappop(best)
    return np.fromiter((i for _, i in best), dtype=np.int64, count=len(best))


def _beam_expand(dist, seeds, nbrs, n, ef, beam, params: SearchParams) -> np.ndarray:
    """The reference's deprecated beam expansion (diskannExpand,
    fdb/FdbVectorIndex.java:841-903) with its exact loop semantics: per
    hop, score the UNVISITED neighbors of the whole frontier (additions
    capped so the expanded list never exceeds ef/maxExplore, in
    frontier-then-neighbor order), sort newly by approx distance, next
    frontier = top ``beam`` of newly (or of newly ∪ frontier when
    ``refine_frontier``); ONLY the chosen beam joins the expanded list.
    Empty-newly hops repeat the frontier until ``min_hops``. Returns
    the expanded list's row positions, ef-bounded."""
    cap = min(ef, params.max_explore if params.max_explore is not None else n)
    visited = np.zeros(n, dtype=bool)
    visited[seeds] = True
    # expanded starts as the seeds, sorted by approx for a deterministic cap order
    frontier = sorted(zip(dist(seeds).tolist(), seeds.tolist()))
    expanded = list(frontier)
    for hop in range(params.max_iters):
        if not frontier or len(expanded) >= cap:
            break
        room = cap - len(expanded)
        found: list[int] = []
        for _, a in frontier:
            for nb in nbrs.get(a, ()):
                if len(found) >= room:
                    break
                if not visited[nb]:
                    visited[nb] = True
                    found.append(int(nb))
        newly = sorted(zip(dist(np.asarray(found)).tolist(), found)) if found else []
        if not newly:
            if hop + 1 < params.min_hops:
                continue  # force minimum hops
            break
        pool = sorted(newly + frontier) if params.refine_frontier else newly
        frontier = pool[:beam]
        expanded.extend(frontier)
    # dedupe (refine can re-pick frontier members), keep the best ef
    seen: dict[int, float] = {}
    for d, i in expanded:
        seen.setdefault(i, d)
    return np.asarray([i for _, i in sorted((d, i) for i, d in seen.items())[:ef]], dtype=np.int64)


def _exact_rerank(index, cand, q, metric, emb: Column, allowed, limit: int) -> DataFrame:
    """Step 4: candidates (≤ Q×S×ef (query_id, seg_id, vec_id) rows)
    join back to the raw vectors on the composite key, drop tombstones,
    attach the query vector and rescore with the true metric; then the
    per-segment cap.

    The vectors scan is first cut to the candidate rows by a left-semi
    join against a broadcast of the distinct (seg_id, vec_id) pairs
    (≤ min(sealed rows, Q×S×ef) × 8 bytes), so the embeddings that
    reach the shuffle of the re-rank join are those of candidates only,
    never of every sealed row. The candidate frame is used twice, so it
    is checkpointed lazily and the generator runs once, on first use
    (under AQE, building the DataFrame already runs the generator's
    two input shuffles; a shared exchange is not reused here, because
    column pruning gives the two uses different plans). No other
    broadcast hint: at moderate Q the planner broadcasts the
    bounded sides from their observed size, and at the million-query
    scale a forced broadcast of the query relation would be the memory
    wall."""
    cand = cand.localCheckpoint(eager=False)
    pairs = cand.select("seg_id", "vec_id").distinct()
    vec = (
        index.vectors(states=SEARCHABLE_SEALED)
        .select("seg_id", "vec_id", "gid", "embedding", "deleted")
        .join(F.broadcast(pairs), ["seg_id", "vec_id"], "left_semi")
    )
    reranked = (
        vec.join(cand, ["seg_id", "vec_id"])
        .filter(~F.col("deleted"))
        .join(q, "query_id")
        .select(
            "query_id", "seg_id", "gid",
            distance_for_metric(emb, F.col("__qvec"), metric).alias("distance"),
        )
    )
    if allowed is not None:
        # drops traversal-surfaced disallowed nodes (GRAPH/BEAM); a
        # no-op for the pre-filtered PQ codes scan
        reranked = reranked.join(allowed, "gid", "left_semi")
    w_cap = Window.partitionBy("query_id", "seg_id").orderBy(
        F.col("distance").asc(), F.col("gid").asc()
    )
    return (
        reranked.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= limit)
        .select("query_id", "gid", "distance")
    )


def _merge_and_attach(index: VectorIndex, merged: DataFrame, k: int, metric: Metric) -> DataFrame:
    """Global merge + payload attach: candidates (query_id, gid,
    distance) → top-k with rank/score → payload."""
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("gid").asc())
    topk = (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
    )
    if not index.has_payload:
        # payload-free index (the common analytical case): skip the
        # attach join — at scale it would shuffle the whole vectors
        # table to decorate ≤ Q×k rows with NULLs
        return topk.select(
            "query_id",
            "gid",
            "distance",
            "score",
            F.lit(None).cast("binary").alias("payload"),
            "rank",
        )
    # payload attach: exclude WRITING (a gid exists in both source and
    # destination mid-compaction; the searchable copy is authoritative)
    payloads = index.vectors(
        states=tuple(SEARCHABLE_BRUTE) + tuple(SEARCHABLE_SEALED)
    ).select("gid", "payload")
    # Two broadcast-honorable joins (a broadcast hint on the preserved
    # side of an outer join is silently DROPPED by Spark — a right-outer
    # with broadcast(topk) degrades to a full sort-merge shuffle of the
    # payload table):
    # 1. INNER join payloads ⋈ broadcast(topk gids): streams the payload
    #    table past a tiny hash map → ≤ Q×k(+dup) matching rows;
    # 2. LEFT join topk ⋈ broadcast(hits): decorates the ≤ Q×k results.
    # The mid-compaction double-gid dedup happens on the tiny hit set
    # (both copies carry identical payload bytes).
    # lazy checkpoint: topk is referenced twice below (gid probe +
    # decorate); without it the whole search pipeline would compute
    # twice. eager=False → no job here, materialized once on first use.
    topk = topk.localCheckpoint(eager=False)
    hits = (
        payloads.join(F.broadcast(topk.select("gid")), "gid")
        .dropDuplicates(["gid"])
    )
    return (
        topk.join(F.broadcast(hits), "gid", "left")
        .select("query_id", "gid", "distance", "score", "payload", "rank")
    )
