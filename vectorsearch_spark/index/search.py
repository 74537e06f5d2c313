"""Batch KNN search: the Spark re-expression of
``fdb/FdbVectorIndex.query`` (fdb/FdbVectorIndex.java:351-479).

``search`` and ``search_join`` are one pipeline. Both keep the query
side a DataFrame (never collected to the driver); they differ only in
what ``mode="AUTO"`` means — PQ two-phase for ``search``, exhaustive
for ``search_join``. The pipeline has three steps:

1. registry dispatch → seg_ids by state (WRITING excluded,
   fdb/FdbVectorIndex.java:631-655);
2. one task per (segment, query block) produces the segment's final
   hits: it picks each query's candidates, re-ranks them with the exact
   kernel on their raw embeddings (tombstones and disallowed rows
   dropped, optional normalize-on-read, fdb/FdbVectorIndex.java:
   970-1046 and 823-826) and caps them at max(k, k·oversample) by
   (distance, gid) (api/SearchParams.java:73-82). Only the picker
   differs by mode:
   - BRUTE (and every ACTIVE/PENDING segment): the GEMM heads of the
     live rows (filter deleted → score → top-k,
     fdb/FdbVectorIndex.java:660-725);
   - PQ: asymmetric LUT distances over the segment's codes (L2² LUT,
     fdb/FdbVectorIndex.java:1057-1079), top-ef;
   - GRAPH: best-first ef-search (fdb/FdbVectorIndex.java:911-968)
     from PQ or random-pivot seeds (794-812);
   - BEAM: the deprecated beam expansion (diskannExpand, 841-903);
   ef is auto-tuned by segment size (adaptation of 772-784), and when
   ef ≥ the segment's code rows every row is a candidate — the
   degenerate rule that makes every exhaustive twin equal brute force;
3. the global merge → top-k by score with gid tie-break (432-437),
   then the payload attach.

Step 2 is one fragment-and-replicate cogroup over one side: rows are
bucketed by hash(seg_id), so a segment lives in exactly one task, and
the query DataFrame is replicated to every bucket. The side is
``VectorIndex.searchable_side``: the vec rows of every searchable
segment and the PQ code, adjacency and codebook rows of the sealed
ones, as one tagged union, persisted once, partitioned by bucket and
read by every later search of the handle without a shuffle. It is the
handle's one search cache: a segment's codebook and OPQ rotation reach
the task that holds its codes, and no other task. It lives until the
next registry write, and every add writes the registry: the write
choke point drops it, and so does ``recover()``, whose swap recovery
rewrites the tables without one. A second handle on the same path
keeps its own copy, under the single-writer contract of the registry
cache. Every task emits at most max(k, k·oversample) rows per (query,
segment), so no shuffle past the scan is ever O(N).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_spark.config import (
    SEARCHABLE_BRUTE,
    SEARCHABLE_SEALED,
    Metric,
)
from vectorsearch_spark.functions.distances import kernel, score_from_distance
from vectorsearch_spark.index.catalog import (
    PQ_SEED_ONLY,
    SearchParams,
    VectorIndex,
)
from vectorsearch_spark.operators.knn import exact_topk, gemm_heads
from vectorsearch_spark.operators.pq import approx_distances, build_lut

_HIT_SCHEMA = "query_id long, gid long, distance double"
# the side columns each row kind fills (``VectorIndex.searchable_side``)
_KIND_COLUMNS = {
    "vec": ["gid", "deleted", "embedding"],
    "code": ["codes"],
    "adj": ["neighbor_ids"],
    "cb": ["m", "k", "sub_dim", "centroids", "rotation"],
}
_RESULT_SCHEMA = (
    "query_id long, gid long, distance double, score double, payload binary, rank int"
)
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
    the brute pick and the PQ pool (before any scoring), so candidate
    pools are spent on allowed vectors only —
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
    per_seg_limit = params.per_seg_limit or max(k, k * cfg.oversample)

    # 1. dispatch: the registry is driver-side, O(#segments)
    seg_rows = index._segment_rows()
    sealed_segs = [r["seg_id"] for r in seg_rows if r["state"] in SEARCHABLE_SEALED]
    if not index.registered_seg_ids(SEARCHABLE_BRUTE + SEARCHABLE_SEALED):
        return index.spark.createDataFrame([], _RESULT_SCHEMA)
    side, n_buckets = index.searchable_side()
    # only GRAPH and BEAM read the adjacency rows, and BRUTE no
    # artifacts; the cached scan reads only the columns of those kinds
    kinds = {"BRUTE": ["vec"], "PQ": ["vec", "code", "cb"]}.get(
        mode, ["vec", "code", "adj", "cb"]
    )
    side = side.filter(F.col("kind").isin(kinds)).select(
        "__b", "seg_id", "kind", "vec_id", *(c for kind in kinds for c in _KIND_COLUMNS[kind])
    )
    if allowed is not None:
        # may shuffle the side when the allow-list is too large to
        # broadcast; an unfiltered search never does
        side = side.join(allowed.withColumn("__ok", F.lit(True)), "gid", "left")
    brute = pick = _brute_pick(per_seg_limit, metric)
    if mode != "BRUTE" and sealed_segs:
        counts = {r["seg_id"]: r["count"] + r["deleted_count"] for r in seg_rows}
        ef_base = params.ef or default_ef(k, cfg.oversample)
        ef_by_seg = {s: tuned_ef(ef_base, k, max(counts.get(s, 1), 1)) for s in sealed_segs}
        code = _code_pick(index.config.seed, ef_by_seg, metric, params, mode, k)

        def pick(seg_id, *rest):
            # ACTIVE/PENDING segments have no code rows: brute force
            return (code if seg_id in ef_by_seg else brute)(seg_id, *rest)

    hits = _segment_scan(
        side, q, n_buckets, pick, metric, per_seg_limit, params.normalize_on_read
    )
    return _merge_and_attach(index, hits, k, metric)


def _segment_scan(
    side, q, n_buckets, pick, metric, limit: int, normalize_on_read: bool
) -> DataFrame:
    """Step 2, one function for every mode. A fragment-and-replicate
    cogroup: ``side`` rows (seg_id, vec_id, ..., ``__b``) group by their
    bucket, so a whole segment meets the queries in one task; the query
    DF replicates to every bucket via ``explode(sequence(0, B-1))`` — a
    Q×B-row shuffle of the SMALL side. Nothing is collected to the
    driver. The cached side (``VectorIndex.searchable_side``) is already
    partitioned by ``__b`` and is read without an exchange.

    Per segment, rows sorted by vec_id (results must not depend on
    partition read order), and per block of at most ``_Q_BLOCK`` queries
    (a (B, d) float64 matrix), ``pick`` chooses each query's candidate
    rows; the shared exact re-rank (``operators.knn.exact_topk``) drops
    deleted and disallowed rows, re-scores the rest with the exact
    kernel on their raw embeddings (normalized and rounded to float
    under ``normalize_on_read``, fdb/FdbVectorIndex.java:823-826) and
    caps them at ``limit`` by (distance, gid) — the per-segment re-rank
    of fdb/FdbVectorIndex.java:970-1046, inside the generator's own
    task. Every query's rows depend on that query alone, so blocking
    leaves the output unchanged. Task memory is one bucket's rows (one
    bucket per segment, capped at 256 buckets), the Q replicated query
    rows, and one block's working set: the brute pick's (segment rows ×
    ``_Q_BLOCK``) distance matrix, or ``_Q_BLOCK`` LUTs.

    ``pick(seg_id, rows, vec, allowed, emb, qmat)`` sees the segment's
    rows (tagged by their ``kind`` column), its ``vec`` rows, which of
    them the allow-list admits (a ``__ok`` column, present only on a
    filtered search) and ``emb(positions)``, the float64 embeddings of
    vec rows; it returns one array of vec-row positions per query, or
    None."""
    q_rep = q.withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))))
    empty = pd.DataFrame(
        {"query_id": np.empty(0, np.int64), "gid": np.empty(0, np.int64), "distance": np.empty(0)}
    )

    def per_segment(seg_id, rows, qids, qmat):
        vec = rows[rows["kind"] == "vec"]
        allowed = vec["__ok"].notna().to_numpy() if "__ok" in vec else np.ones(len(vec), bool)
        embeddings = vec["embedding"].to_numpy()

        def emb(pos):
            mat = np.stack(embeddings[pos]).astype(np.float64)
            if normalize_on_read:
                mat = kernel("normalize", mat).astype(np.float32).astype(np.float64)
            return mat

        picked = pick(seg_id, rows, vec, allowed, emb, qmat)
        if picked is None:
            return None
        pos = np.concatenate(picked).astype(np.int64)
        qpos = np.repeat(np.arange(len(qids)), [len(p) for p in picked])
        live = (allowed & ~vec["deleted"].to_numpy(dtype=bool))[pos]
        pos, qpos = pos[live], qpos[live]
        if not len(pos):
            return None
        need = np.unique(pos)
        gids = vec["gid"].to_numpy(dtype=np.int64)[need]
        hits = exact_topk(
            gids, emb(need), np.searchsorted(need, pos), qids, qmat, qpos, limit, metric
        )
        return hits.rename(columns={"id": "gid"})

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

    return side.groupBy("__b").cogroup(q_rep.groupBy("__b")).applyInPandas(fn, _HIT_SCHEMA)


def _positions(sorted_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Position of each of ``ids`` in ``sorted_ids``; -1 where absent."""
    if not len(sorted_ids):
        return np.full(len(ids), -1, dtype=np.int64)
    at = np.minimum(np.searchsorted(sorted_ids, ids), len(sorted_ids) - 1)
    return np.where(sorted_ids[at] == ids, at, -1)


def _brute_pick(limit: int, metric: Metric):
    """BRUTE: the per-query top-``limit`` of the live, allowed rows by
    the GEMM distances (``operators.knn.gemm_heads``)."""

    def pick(seg_id, rows, vec, allowed, emb, qmat):
        live = np.flatnonzero(allowed & ~vec["deleted"].to_numpy(dtype=bool))
        if not len(live):
            return None
        return list(live[gemm_heads(emb(live), qmat, limit, metric)])

    return pick


def _code_pick(seed: int, ef_by_seg, metric, params: SearchParams, mode, k):
    """PQ, GRAPH and BEAM: per query, the code rows the mode's generator
    picks, or every code row when ef ≥ code rows (the degenerate rule
    that makes every exhaustive twin equal brute force), as positions of
    their vec rows.

    - PQ: asymmetric LUT distances over the whole pool (L2² LUT,
      fdb/FdbVectorIndex.java:1057-1079), top-ef. The pool is the
      allowed code rows, tombstoned ones included: the allow-list
      pre-filters it, so it is spent on allowed vectors only.
    - GRAPH/BEAM: see ``_graph_choose``; traversal reads every code row.

    The LUTs come from the segment's own ``cb`` row (its codebook and
    OPQ rotation), which the side delivers in the same task as its
    codes; a segment without one is skipped."""
    if mode == "PQ":
        def choose(seg_id, rows, vec_ids, mat, ef, luts):
            return [np.argpartition(approx_distances(mat, lut), ef - 1)[:ef] for lut in luts]
    else:
        choose = _graph_choose(seed, params, mode, k)

    def pick(seg_id, rows, vec, allowed, emb, qmat):
        cb_rows = rows[rows["kind"] == "cb"]
        codes = rows[rows["kind"] == "code"]
        vec_pos = _positions(vec["vec_id"].to_numpy(dtype=np.int64), codes["vec_id"].to_numpy())
        if mode == "PQ" and "__ok" in rows:
            pool = vec_pos >= 0
            pool[pool] = allowed[vec_pos[pool]]
            codes, vec_pos = codes[pool], vec_pos[pool]
        vec_ids = codes["vec_id"].to_numpy(dtype=np.int64)
        n = len(codes)
        if cb_rows.empty or n == 0:
            return None
        ef = ef_by_seg[seg_id]
        if ef >= n:
            picked = [np.arange(n)] * len(qmat)
        else:
            cb = cb_rows.iloc[0]
            m, sub_dim = int(cb["m"]), int(cb["sub_dim"])
            centroids = np.asarray(cb["centroids"], dtype=np.float64)
            centroids = centroids.reshape(m, int(cb["k"]), sub_dim)
            mat = np.frombuffer(
                b"".join(codes["codes"].to_numpy()), dtype=np.uint8
            ).reshape(n, m)
            qvecs = list(qmat)
            if metric == Metric.COSINE:
                # codebooks were trained/encoded on unit vectors
                # (build.py); a unit query makes the L2² LUT ranking
                # exactly monotone in cosine distance (‖v̂−q̂‖² = 2−2·cos)
                # — normalize-on-read analog, fdb/FdbVectorIndex.java:1006-1013
                qvecs = [(v / nrm if (nrm := np.linalg.norm(v)) > 0.0 else v) for v in qvecs]
            # OPQ: codes were encoded in rotated space, so the LUT is
            # built from the rotated query
            if cb["rotation"] is not None:
                rot = np.asarray(cb["rotation"], dtype=np.float64).reshape(m * sub_dim, -1)
                qvecs = [v @ rot for v in qvecs]
            luts = [build_lut(centroids, v) for v in qvecs]
            picked = choose(seg_id, rows, vec_ids, mat, ef, luts)
        # a code row without a vec row is never a hit
        return [p[p >= 0] for p in (vec_pos[c] for c in picked)]

    return pick


def _graph_choose(seed: int, params: SearchParams, mode: str, k: int):
    """GRAPH/BEAM traversal over the segment's code and adjacency rows,
    which the one side scan delivers together, so no join materializes
    the (codes ⋈ adjacency) pair. Task memory is one segment's codes
    (N·m bytes) + neighbor lists (N·degree ints), within the
    segment-bounded build-task contract.

    Seeds per (query, segment), per ``params.seed_strategy``:
    - PQ_SEED_ONLY (GRAPH): the top-``beam`` rows by LUT distance over
      the segment's codes — the reference's default seeding
      (fdb/FdbVectorIndex.java:794-799);
    - RANDOM_PIVOTS (GRAPH; always for BEAM): ``pivots`` deterministic
      pseudo-random rows seeded by (index seed, seg_id), shared across
      the query batch (801-812), with LUT distances computed lazily
      for visited nodes only.
    Neighbors whose artifacts were vacuumed away are skipped;
    tombstoned-but-unvacuumed and disallowed nodes stay traversable and
    are dropped at the exact re-rank.
    """
    pq_seeds = mode == "GRAPH" and params.seed_strategy == PQ_SEED_ONLY

    def choose(seg_id, rows, vec_ids, mat, ef, luts):
        n = len(vec_ids)
        adj = rows[rows["kind"] == "adj"]
        src = _positions(vec_ids, adj["vec_id"].to_numpy(dtype=np.int64))
        nbrs: dict[int, np.ndarray] = {}
        for s, nb in zip(src, adj["neighbor_ids"]):
            if s >= 0:
                at = _positions(vec_ids, np.asarray(nb, dtype=np.int64))
                nbrs[int(s)] = at[at >= 0]
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

    return choose


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
    # destination mid-compaction; the searchable copy is authoritative).
    # One INNER join streams the payload scan past a broadcast of the
    # ≤ Q×k results (a broadcast hint on the preserved side of an outer
    # join is dropped by Spark, which would shuffle the payload table).
    # It drops no result: every result gid comes from a vec row of a
    # searchable segment, and the scan reads the same segments. A gid
    # stored twice would match twice; dropping duplicate (query_id,
    # rank) pairs keeps one copy (both carry the same payload bytes).
    payloads = index.vectors(
        states=tuple(SEARCHABLE_BRUTE) + tuple(SEARCHABLE_SEALED)
    ).select("gid", "payload")
    return (
        payloads.join(F.broadcast(topk), "gid")
        .dropDuplicates(["query_id", "rank"])
        .select("query_id", "gid", "distance", "score", "payload", "rank")
    )
