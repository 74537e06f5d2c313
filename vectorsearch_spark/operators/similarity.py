"""Approximate nearest-neighbor similarity joins — the 100 TB scale
path beyond brute force (north-star extensions per BASELINE.json; the
reference's scale mechanism is per-segment PQ+graph, reimplemented in
``index/``; these operators generalize it to table-vs-table joins).

Two bucketing families:

- **IVF** (inverted-file): train ``n_centroids`` coarse centroids on a
  sample, assign every vector to its nearest centroid (= bucket), and
  probe only the ``nprobe`` buckets nearest each query. The candidate
  scan shrinks by ~nprobe/n_centroids. With nprobe == n_centroids the
  search is EXHAUSTIVE — byte-identical to brute force — which is how
  the plumbing is oracle-checked, while approximate configs are gated
  by recall tests (mirroring the reference's recall@10 ≥ 0.9 gate,
  api/VectorIndexTest.java:211-258).
- **LSH** (random-hyperplane, cosine): ``n_tables`` independent
  ``n_bits``-bit sign signatures; vectors and queries sharing a bucket
  in ANY table become candidates, verified with the exact metric.

Scale design shared by both: the vector table is scanned once, narrow
(id + embedding + bucket); queries are a small broadcast side; the
bucket join is the only shuffle and it is keyed by bucket (bounded fan
-out), never a cross join. Candidates are scored with the exact-distance
columns (``functions/distances.py``); final per-query top-k is a window over
candidates already pruned by bucketing.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from vectorsearch_spark.config import Metric
from vectorsearch_spark.functions.litarrays import lit_double_array, lit_int_array
from vectorsearch_spark.functions.distances import (
    distance_for_metric,
    l2,
    l2_squared,
    normalize,
    score_from_distance,
    sq_l2_matrix,
)
from vectorsearch_spark.operators.guards import collect_bounded


def kmeans_fit(
    points: np.ndarray, k: int, iters: int = 20, seed: int = 42
) -> np.ndarray:
    """Deterministic Lloyd's k-means (same loop shape the PQ trainer
    uses, pq/PqTrainer.java:28-91): seeded init by sampling distinct
    rows, argmin-L2² assign, mean update, empty clusters reseeded to the
    farthest point. Returns (k, D) float64 centroids."""
    rng = np.random.RandomState(seed)
    n = len(points)
    k = min(k, n)
    centroids = points[rng.choice(n, size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d2 = sq_l2_matrix(points, centroids)  # (n, k)
        assign = np.argmin(d2, axis=1)
        new = np.empty_like(centroids)
        for c in range(k):
            members = points[assign == c]
            if len(members) == 0:
                new[c] = points[np.argmax(np.min(d2, axis=1))]
            else:
                new[c] = members.mean(axis=0)
        if np.allclose(new, centroids):
            centroids = new
            break
        centroids = new
    return centroids


def train_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    sample_rows: int = 20000,
    iters: int = 20,
    seed: int = 42,
) -> np.ndarray:
    """Coarse-quantizer training on a bounded driver-side sample.

    The sample is capped at ``sample_rows`` regardless of table size
    (standard IVF practice: centroids need ~100×k training points, not
    the full corpus), so driver memory stays O(sample), not O(N).
    """
    n = vectors.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample = (
        vectors.select(vec_col).sample(fraction=frac, seed=seed).limit(sample_rows).collect()
    )
    pts = np.array([list(r[0]) for r in sample], dtype=np.float64)
    return kmeans_fit(pts, n_centroids, iters=iters, seed=seed)


def _centroids_df(spark, centroids: np.ndarray, double: bool = False) -> DataFrame:
    """Centroid lookup table. ``double=True`` keeps float64 precision —
    REQUIRED wherever a distance against these centroids is compared to
    a float64 threshold with ~1e-9 relative slack (the exact-radius
    cell prune): float32 truncation injects ~1e-7 relative error, which
    would dwarf the slack and wrongly prune a match-holding cell."""
    elem = DoubleType() if double else FloatType()
    schema = StructType(
        [
            StructField("bucket", IntegerType(), False),
            StructField("centroid", ArrayType(elem, False), False),
        ]
    )
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, schema)


def _cents_lit(cents: np.ndarray) -> Column:
    """Centroid matrix as an array of single-Literal rows — a ~(k+1)-
    node tree built in O(k) py4j round-trips (see litarrays)."""
    return F.array(
        *[lit_double_array(c) for c in np.asarray(cents, dtype=np.float64)]
    )


def _d2_sql(vec_col: str, i: int, cents_col: str = "_cents") -> str:
    """SQL text of the squared-L2 fold between ``vec_col`` and centroid
    ``i`` (0-based) of the ``cents_col`` literal-array column — the
    textual mirror of the old DSL subtree (same casts, same fold
    order), so distances are bit-identical."""
    return (
        f"aggregate(zip_with(`{vec_col}`, element_at({cents_col}, {i + 1}), "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Tag every vector with its nearest-centroid bucket.

    For modest codebooks (K·D ≤ 8192) the centroids are inlined as
    literal arrays and the argmin is one codegen expression —
    ``array_min`` over (d2, bucket) structs, whose lexicographic struct
    ordering IS the (distance asc, bucket asc) tie-break. A pure narrow
    map: no join, no shuffle, no row inflation — the shape that wins at
    100 TB. Larger codebooks fall back to a broadcast crossJoin + window
    argmin (16×+ row inflation made tolerable by the broadcast).

    ``keep_cols`` carries extra columns through unchanged (e.g. the
    ORIGINAL vector when ``vec_col`` is a derived geometry column such
    as the unit-normalized copy the cosine radius path assigns on).
    """
    k, d = centroids.shape
    keep = list(keep_cols or [])
    pruned = vectors.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).alias(vec_col),
        *[F.col(c) for c in keep],
    )
    if k * d <= 8192:
        # ONE F.expr string instead of per-centroid DSL subtrees (r14:
        # the DSL build paid ~15 py4j round-trips per centroid per
        # call); centroids arrive as single-Literal arrays that
        # CollapseProject + ConstantFolding inline per struct, so the
        # OPTIMIZED plan (and the argmin semantics, cast-for-cast) is
        # identical to the old form's.
        structs = ", ".join(
            f"named_struct('d2', {_d2_sql(vec_col, i)}, "
            f"'bucket', CAST({i} AS INT))"
            for i in range(k)
        )
        return pruned.withColumn(
            "_cents", _cents_lit(centroids)
        ).select(
            id_col, vec_col, *keep,
            F.expr(f"array_min(array({structs})).bucket").alias("bucket"),
        )
    cents = _centroids_df(vectors.sparkSession, centroids)
    scored = pruned.crossJoin(F.broadcast(cents)).withColumn(
        "_d2", l2_squared(F.col(vec_col), F.col("centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("bucket").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, *keep, "bucket")
    )


def ivf_route(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """DISTRIBUTED query routing — the query-side twin of
    ``ivf_assign``: tag every query with its ``nprobe`` nearest coarse
    buckets, never collecting the query table. Returns one row per
    (query, probed bucket): (query_id, _qvec, bucket).

    For modest codebooks (K·D ≤ 8192) the centroids are inlined and the
    top-nprobe selection is one codegen expression — ``array_sort``
    over (d2, bucket) structs (lexicographic order IS the
    (distance asc, bucket asc) tie-break, matching the driver router's
    lexsort), sliced to nprobe and exploded. A pure narrow map with
    bounded nprobe× fan-out — no join, no shuffle. Larger codebooks
    fall back to a broadcast crossJoin + rank window.

    This is what lets ``ann_ivf_join``/``ann_ivfpq_join`` serve query
    SIDES of arbitrary size (a 10M-row query table routes in parallel;
    the driver never materializes it) — the per-query bounded fan-out
    stance of the reference's search (fdb/FdbVectorIndex.java:417-432)
    applied to table-vs-table joins.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    kc, d = cents.shape
    nprobe = min(int(nprobe), kc)
    pruned = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
    )
    if kc * d <= 8192:
        # same F.expr-text construction as ivf_assign (r14) — identical
        # optimized plan and tie-break semantics (struct lexicographic
        # sort = (d2 asc, bucket asc)) to the old per-centroid DSL.
        structs = ", ".join(
            f"named_struct('d2', {_d2_sql('_qvec', i)}, "
            f"'bucket', CAST({i} AS INT))"
            for i in range(kc)
        )
        probed = (
            f"transform(slice(array_sort(array({structs})), 1, {nprobe}), "
            f"s -> s.bucket)"
        )
        return pruned.withColumn("_cents", _cents_lit(cents)).select(
            "query_id", "_qvec", F.explode(F.expr(probed)).alias("bucket")
        )
    cdf = _centroids_df(queries.sparkSession, cents)
    scored = pruned.crossJoin(F.broadcast(cdf)).withColumn(
        "_d2", l2_squared(F.col("_qvec"), F.col("centroid"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("bucket").asc()
    )
    # the fallback route is a broadcast crossJoin + rank window (a real
    # shuffle); downstream blocked scoring consumes the routed table
    # twice (per-cell qcount + the main pass) — checkpoint so the
    # window runs once. The codegen route above stays a stateless
    # narrow map and is cheap to recompute.
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "_qvec", "bucket")
        .localCheckpoint(eager=False)
    )


def _route_queries(
    queries: list[tuple[int, list[float]]], centroids: np.ndarray, nprobe: int
) -> list[tuple[int, int]]:
    """(query_id, bucket) pairs for the nprobe nearest buckets — tiny,
    computed on the driver (Q × K distance matrix)."""
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    d2 = sq_l2_matrix(qmat, centroids)
    nprobe = min(nprobe, centroids.shape[0])
    out = []
    for j, (qid, _) in enumerate(queries):
        order = np.lexsort((np.arange(centroids.shape[0]), d2[j]))
        out.extend((qid, int(b)) for b in order[:nprobe])
    return out


def ann_ivf_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    metric: Metric | str = Metric.L2,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    seed: int = 42,
    query_mode: str = "auto",
    max_driver_queries: int = 65536,
    block_size: int = 4096,
) -> DataFrame:
    """IVF ANN join: per query, top-k among vectors in its ``nprobe``
    nearest coarse buckets. Returns (query_id, id, distance, score,
    rank). nprobe == n_centroids ⇒ exact (= brute force).

    ``query_mode``: ``"driver"`` routes queries driver-side (Q×K
    floats; broadcast routing table — the small-Q fast path),
    ``"distributed"`` routes with ``ivf_route`` (no collect anywhere —
    the query side scales to arbitrary size) and scores candidates
    with the block-partitioned GEMM grid (``_blocked_candidates``:
    banded per-block top-k — a provable superset of the global top-k —
    then the final window ranks exactly re-scored survivors, ~blocks·k
    rows per query instead of every probed candidate),
    ``"auto"`` picks by one bounded count
    against ``max_driver_queries``. Both modes score candidates with
    the same exact distance; results are identical up to
    floating-point ties in coarse routing (the driver router sums the
    Q×K distances with NumPy GEMM, the distributed router with a
    codegen sequential fold — a near-tie between the nprobe-th and
    (nprobe+1)-th centroid can probe a different cell). At 100 TB,
    only the probed fraction of candidates is ever scored either way.
    """
    metric = Metric(metric)
    spark = vectors.sparkSession
    if query_mode not in ("auto", "driver", "distributed"):
        raise ValueError("query_mode must be auto|driver|distributed")
    # ONE bounded query-side probe answers emptiness AND mode selection
    # (empty input must not pay centroid training — r9 ADVICE; and an
    # expensive query subplan must not be probed twice)
    mode = query_mode
    if mode == "auto":
        qn = queries.limit(max_driver_queries + 1).count()
        if qn == 0:
            return spark.createDataFrame(
                [], "query_id long, id long, distance double, score double, rank int"
            )
        mode = "driver" if qn <= max_driver_queries else "distributed"
    elif queries.limit(1).count() == 0:
        return spark.createDataFrame(
            [], "query_id long, id long, distance double, score double, rank int"
        )
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_centroids, vec_col=vec_col, seed=seed
        )
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    if mode == "driver":
        qrows = collect_bounded(
            queries.select(query_id_col, query_vec_col),
            max_driver_queries,
            what='query_mode="driver" query side',
            alternative='query_mode="distributed"',
        )
        if not qrows:
            return spark.createDataFrame(
                [], "query_id long, id long, distance double, score double, rank int"
            )
        qlist = [(r[0], list(r[1])) for r in qrows]
        routing = spark.createDataFrame(
            _route_queries(qlist, centroids, nprobe), "query_id long, bucket int"
        )
        qvecs = spark.createDataFrame(
            [(qid, [float(x) for x in vec]) for qid, vec in qlist],
            StructType(
                [
                    StructField("query_id", LongType(), False),
                    StructField("_qvec", ArrayType(FloatType(), False), False),
                ]
            ),
        )
        cand = assigned.join(F.broadcast(routing), "bucket").join(
            F.broadcast(qvecs), "query_id"
        )
    else:
        routed = ivf_route(
            queries, centroids, nprobe,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        vcount = {
            int(row["bucket"]): int(row["n"])
            for row in assigned.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }

        def topk_band(d, noise):
            # per-block banded top-k: every candidate whose CODEGEN
            # rank is ≤ k globally has GEMM distance within 2·(GEMM
            # noise) of its block's kk-th smallest GEMM distance, so
            # keeping everything ≤ kth + band is a provable superset
            # of the global top-k (ties at the boundary included).
            # ``noise`` is the block's magnitude-aware GEMM error bound
            # (computed from the actual row norms in score_block) — the
            # old fixed 1e-6 band silently under-covered very-large-norm
            # inputs, where the expanded-form ‖v‖²−2v·q+‖q‖²
            # cancellation error scales with the squared magnitudes.
            kk = min(k, d.shape[0])
            kth = np.partition(d, kk - 1, axis=0)[kk - 1, :]
            thresh = kth + 1e-6 + 1e-9 * np.abs(kth) + 2.0 * noise
            return np.nonzero(d <= thresh[None, :])

        surv = _blocked_candidates(
            assigned, routed, vcount, metric,
            id_col=id_col, vec_col=vec_col, block_size=block_size,
            select_pairs=topk_band,
        )
        if surv is None:
            return spark.createDataFrame(
                [], "query_id long, id long, distance double, score double, rank int"
            )
        cand = surv.withColumn(
            "distance", distance_for_metric(F.col("_v"), F.col("_q"), metric)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("distance").asc(), F.col("id").asc()
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("score", score_from_distance(F.col("distance"), metric))
            .select("query_id", "id", "distance", "score", "rank")
        )
    cand = cand.withColumn(
        "distance", distance_for_metric(F.col(vec_col), F.col("_qvec"), metric)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
        .select("query_id", F.col(id_col).alias("id"), "distance", "score", "rank")
    )


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_tables: int = 4,
    n_bits: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane signature buckets: one output row per (row,
    table) with key "t|signbits". Hyperplanes are derived from ``seed``
    so the vector and query sides agree. Sign bits are computed with
    codegen dot-product expressions (no Python in the scan).

    This IS ``lsh_probe_signatures`` with ``multi_probe=0`` — a single
    derivation of planes / sign convention / key format, so the data
    side of ``ann_lsh_join`` can never drift from the query side (drift
    would silently empty the bucket join and collapse recall)."""
    return lsh_probe_signatures(
        df,
        dim,
        n_tables=n_tables,
        n_bits=n_bits,
        multi_probe=0,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
    )


def lsh_probe_signatures(
    df: DataFrame,
    dim: int,
    n_tables: int = 4,
    n_bits: int = 8,
    multi_probe: int = 0,
    id_col: str = "id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Query-side signatures with MULTI-PROBE (Lv et al., VLDB 2007):
    besides each table's home bucket, probe the ``multi_probe``
    Hamming-1 neighbor buckets whose flipped hyperplane the query sits
    CLOSEST to (query-directed probing: a point near a boundary most
    likely lost its true neighbors across exactly that boundary).
    Probing only ADDS buckets, so the candidate set is a superset of
    the single-probe set — recall is monotone in ``multi_probe`` while
    table count (index size) stays fixed, which is the whole trade.
    All codegen: per-bit dots are kept as an array, the flip order is
    ``array_sort`` by |dot|, keys are bitwiseXOR flips — no Python.

    Construction (r14): the whole per-row key array is ONE ``F.expr``
    SQL string — the per-bit DSL build paid ~10k py4j round-trips
    (~18 s of driver time at 8 tables × 4 bits before any job ran;
    profiled, see OPTIMIZATION_r14.md). Planes reach the expression as
    a single-Literal array column (``lit_double_array``), which
    CollapseProject inlines and ConstantFolding reduces back to one
    literal per dot — the OPTIMIZED plan is identical to the old
    DSL form's, and every generated subexpression (CAST/CASE/fold
    order, struct field order, xor flips) textually mirrors the DSL
    tree it replaced, so band keys are bit-identical (tests pin the
    probe-0 ≡ lsh_signatures and superset/monotone properties)."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables, n_bits, dim))
    vc = f"`{vec_col}`"

    def dot(t: int, b: int) -> str:
        idx = t * n_bits + b + 1  # element_at is 1-based
        return (
            f"aggregate(zip_with({vc}, element_at(_planes, {idx}), "
            f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), "
            f"(acc, v) -> acc + v)"
        )

    key_arrays = []
    for t in range(n_tables):
        bits = "CAST(0 AS BIGINT)"
        for b in range(n_bits):
            bits += (
                f" + (CASE WHEN {dot(t, b)} > 0 THEN CAST({1 << b} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END)"
            )
        home = f"concat('{t}|', CAST({bits} AS STRING))"
        if multi_probe <= 0 or n_bits == 0:
            key_arrays.append(f"array({home})")
            continue
        # each struct carries its PRE-BUILT flipped key (literal bit
        # mask per b), so the selection lambda only reads struct
        # fields — no outer-expression references inside the HOF (the
        # catalyst-hof pitfall)
        structs = ", ".join(
            f"named_struct('a', abs({dot(t, b)}), 'b', {b}, "
            f"'k', concat('{t}|', CAST(({bits} ^ {1 << b}) AS STRING)))"
            for b in range(n_bits)
        )
        flips = (
            f"transform(slice(array_sort(array({structs})), 1, "
            f"{min(multi_probe, n_bits)}), s -> s.k)"
        )
        key_arrays.append(f"concat(array({home}), {flips})")
    keys = f"flatten(array({', '.join(key_arrays)}))"
    flat = [planes[t, b] for t in range(n_tables) for b in range(n_bits)]
    planes_col = F.array(*[lit_double_array(p) for p in flat]) if flat else F.array(
        lit_double_array([0.0])  # n_bits=0: never referenced, pruned away
    )
    return (
        df.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).alias(vec_col),
            planes_col.alias("_planes"),
        )
        .select(id_col, vec_col, F.explode(F.expr(keys)).alias("band_key"))
    )


def ann_lsh_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 4,
    n_bits: int = 8,
    metric: Metric | str = Metric.COSINE,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_freq: int | None = None,
    multi_probe: int = 0,
) -> DataFrame:
    """LSH ANN join for cosine-like metrics: candidates share a bucket
    in ≥1 of ``n_tables`` sign-signature tables; exact verify + top-k.
    ``multi_probe > 0`` additionally probes that many Hamming-1
    neighbor buckets per table on the QUERY side (query-directed
    multi-probe, Lv et al. VLDB 2007) — recall rises without growing
    the table count; the probe fan-out multiplies only the small query
    side of the join.

    Unlike ``knn_join`` this never collects the query side — both sides
    are DataFrames bucketed by band_key, so it also serves query sets
    too large to broadcast (the join is bucket-keyed, not cross).

    ``max_bucket_freq`` (opt-in) drops vector-side buckets larger than
    the cap before the join — the skew guard for degenerate buckets
    (e.g. a near-zero-entropy embedding cluster putting millions of
    vectors in one band). It trades recall for a bound on join fan-out,
    so it is OFF by default: exact configurations (n_bits=0 single
    table, the oracle twin) put ALL vectors in one bucket by design.
    """
    metric = Metric(metric)
    dim = len(vectors.select(vec_col).first()[0])
    v_sig = lsh_signatures(
        vectors, dim, n_tables, n_bits, id_col=id_col, vec_col=vec_col, seed=seed
    )
    if max_bucket_freq is not None:
        w_bf = Window.partitionBy("band_key")
        v_sig = (
            v_sig.withColumn("_bf", F.count(F.lit(1)).over(w_bf))
            .filter(F.col("_bf") <= max_bucket_freq)
            .drop("_bf")
        )
    q_sig = lsh_probe_signatures(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_qvec")
        ),
        dim,
        n_tables,
        n_bits,
        multi_probe=multi_probe,
        id_col="query_id",
        vec_col="_qvec",
        seed=seed,
    )
    # one exchange for dedup + top-k window (r14): hash(query_id)
    # satisfies the dedup's ClusteredDistribution(query_id, id) AND the
    # window's partitioning, so the explicit repartition replaces the
    # two exchanges Catalyst would otherwise insert (hash(query_id, id)
    # for dropDuplicates, then hash(query_id) for the window) — the
    # cross-table candidate rows, each carrying both vectors, are
    # shuffled ONCE instead of twice. The exact distance is computed
    # AFTER the dedup, once per unique pair instead of once per
    # (pair, matching table).
    cand = (
        v_sig.join(q_sig, "band_key")
        .select("query_id", id_col, vec_col, "_qvec")
        .repartition("query_id")
        .dropDuplicates(["query_id", id_col])
        .withColumn("distance", distance_for_metric(F.col(vec_col), F.col("_qvec"), metric))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
        .select("query_id", F.col(id_col).alias("id"), "distance", "score", "rank")
    )


def ann_ivfpq_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    pq_m: int = 8,
    pq_k: int = 256,
    refine: int | None = 4,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    seed: int = 42,
    sample_rows: int = 20000,
    query_mode: str = "auto",
    max_driver_queries: int = 65536,
) -> DataFrame:
    """IVF-PQ ANN join (the FAISS IndexIVFPQ composition — Jégou et
    al., TPAMI 2011 §IV): coarse-quantize vectors into ``n_centroids``
    inverted lists, PQ-encode the RESIDUAL (vector − its centroid) so
    the codebook spends its precision on the within-cell distribution,
    and at query time scan only the ``nprobe`` nearest lists with an
    asymmetric-distance LUT built from the query's PER-LIST residual.
    The top ``refine·k`` approximate candidates per query are exactly
    re-ranked against the full vectors. L2 only (PQ's additive
    subspace decomposition is an L2² identity; the reference's PQ path
    is L2² too, fdb/FdbVectorIndex.java:1057-1079).

    ``refine=None`` re-ranks EVERY probed candidate — with
    ``nprobe == n_centroids`` that makes the search exhaustive
    (byte-identical to brute force, the oracle twin), while the PQ
    scoring path still executes to produce the candidate order.

    Returns (query_id, id, distance, score, rank) like ``ann_ivf_join``.

    Scale: the vector table is scanned twice, both narrow — once for
    assign+encode (one Arrow ``mapInPandas`` pass emitting
    (id, bucket, m bytes of codes); the full vectors never shuffle),
    once for the final re-rank join against the candidate set
    (Q·refine·k rows). The approximate scan shuffles only codes
    (m bytes/vector vs 4·d for raw floats — 384× narrower at d=768,
    m=8), joined bucket-keyed against a (query, list)-LUT table
    (Q·nprobe rows × m·pq_k doubles). Codebook training is the bounded
    driver-sample contract of ``train_ivf_centroids``.

    ``query_mode`` (the ``ann_ivf_join`` contract): ``"driver"``
    routes/builds LUTs driver-side and broadcasts (small-Q fast path);
    ``"distributed"`` routes with ``ivf_route`` and builds each
    (query, probed-list) LUT inside an Arrow pass over the routed
    query table — no collect anywhere, every join shuffles, so a
    10M-row query table works without touching driver memory.
    ``"auto"`` picks by one bounded count. LUTs are built from float64
    residuals with the same NumPy kernel in both modes, so results are
    identical up to floating-point ties in coarse ROUTING (driver:
    NumPy GEMM; distributed: codegen sequential fold — a near-tie on
    the nprobe boundary can probe a different cell).
    """
    from vectorsearch_spark.operators.pq import build_lut, encode, train_codebook

    spark = vectors.sparkSession
    if query_mode not in ("auto", "driver", "distributed"):
        raise ValueError("query_mode must be auto|driver|distributed")
    # ONE bounded query-side probe answers emptiness AND mode selection
    # (empty input must not pay IVF/codebook training — r9 ADVICE; and
    # an expensive query subplan must not be probed twice)
    mode = query_mode
    if mode == "auto":
        qn = queries.limit(max_driver_queries + 1).count()
        if qn == 0:
            return spark.createDataFrame(
                [], "query_id long, id long, distance double, score double, rank int"
            )
        mode = "driver" if qn <= max_driver_queries else "distributed"
    elif queries.limit(1).count() == 0:
        return spark.createDataFrame(
            [], "query_id long, id long, distance double, score double, rank int"
        )
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_centroids, vec_col=vec_col, seed=seed, sample_rows=sample_rows
        )
    cents = np.asarray(centroids, dtype=np.float64)

    assigned = ivf_assign(vectors, cents, id_col=id_col, vec_col=vec_col)

    # residual codebook: bounded driver-side sample of (vector − centroid)
    n = vectors.count()
    frac = min(1.0, sample_rows / max(n, 1))
    samp = (
        assigned.select(vec_col, "bucket")
        .sample(fraction=frac, seed=seed)
        .limit(sample_rows)
        .collect()
    )
    res_sample = np.array(
        [np.asarray(list(r[0]), dtype=np.float64) - cents[r[1]] for r in samp]
    )
    codebook = train_codebook(res_sample, pq_m, pq_k, iters=5, seed=seed)

    cb = codebook  # closure captures (broadcast with the task binary)

    def encode_residuals(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            x -= cents[pdf["bucket"].to_numpy()]
            codes = encode(x, cb)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "bucket": pdf["bucket"].to_numpy(),
                    "codes": [row.tolist() for row in codes.astype(np.int32)],
                }
            )

    codes_df = assigned.mapInPandas(
        encode_residuals, f"{id_col} long, bucket int, codes array<int>"
    )

    # per-(query, probed-list) LUT over the query's residual in that list
    if mode == "driver":
        qrows = collect_bounded(
            queries.select(query_id_col, query_vec_col),
            max_driver_queries,
            what='query_mode="driver" query side',
            alternative='query_mode="distributed"',
        )
        if not qrows:
            return spark.createDataFrame(
                [], "query_id long, id long, distance double, score double, rank int"
            )
        qlist = [(r[0], list(r[1])) for r in qrows]
        routing = _route_queries(qlist, cents, nprobe)
        lut_rows = []
        qvec_by_id = {qid: np.asarray(v, dtype=np.float64) for qid, v in qlist}
        for qid, b in routing:
            lut = build_lut(cb, qvec_by_id[qid] - cents[b])
            lut_rows.append((qid, b, [float(x) for x in lut.ravel()]))
        lut_df = F.broadcast(
            spark.createDataFrame(
                lut_rows, "query_id long, bucket int, lut array<double>"
            )
        )
        qvecs = F.broadcast(
            spark.createDataFrame(
                [(qid, [float(x) for x in vec]) for qid, vec in qlist],
                StructType(
                    [
                        StructField("query_id", LongType(), False),
                        StructField("_qvec", ArrayType(FloatType(), False), False),
                    ]
                ),
            )
        )
    else:
        routed = ivf_route(
            queries, cents, nprobe,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )

        def luts(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                out = []
                for qid, vec, b in zip(pdf["query_id"], pdf["_qvec"], pdf["bucket"]):
                    res = np.asarray(vec, dtype=np.float64) - cents[int(b)]
                    out.append(
                        (int(qid), int(b),
                         [float(x) for x in build_lut(cb, res).ravel()])
                    )
                yield pd.DataFrame(out, columns=["query_id", "bucket", "lut"])

        lut_df = routed.mapInPandas(
            luts, "query_id long, bucket int, lut array<double>"
        )
        qvecs = queries.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("_qvec"),
        )

    kk = int(pq_k)
    approx = codes_df.join(lut_df, "bucket").withColumn(
        "_ad",
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(int(pq_m) - 1)),
                lambda c, s: F.element_at(F.col("lut"), (s * kk + c + 1).cast("int")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    if refine is not None:
        w_a = Window.partitionBy("query_id").orderBy(F.col("_ad").asc(), F.col(id_col).asc())
        approx = approx.withColumn("_arn", F.row_number().over(w_a)).filter(
            F.col("_arn") <= int(refine) * int(k)
        )
    cand_ids = approx.select("query_id", id_col)
    if mode == "driver":
        # Q·refine·k ids — small by the driver-mode contract
        cand_ids = F.broadcast(cand_ids)
    reranked = (
        vectors.select(F.col(id_col).cast("long").alias(id_col), F.col(vec_col))
        .join(cand_ids, id_col)
        .join(qvecs, "query_id")
        .withColumn(
            "distance", distance_for_metric(F.col(vec_col), F.col("_qvec"), Metric.L2)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), Metric.L2))
        .select("query_id", F.col(id_col).alias("id"), "distance", "score", "rank")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "id",
    vec_col: str = "embedding",
    score_col: str = "score",
    max_candidates_per_query: int = 100_000,
) -> DataFrame:
    """Maximal Marginal Relevance diversified re-rank (Carbonell &
    Goldstein, SIGIR'98): from each query's candidate set, greedily
    pick k items maximizing ``lam·relevance − (1−lam)·max cosine
    similarity to the already-picked set`` — the standard RAG/retrieval
    post-pass that stops near-duplicate passages from crowding a
    result list. Ties break on candidate id (deterministic).

    Input: one row per (query, candidate) with the candidate vector
    and a relevance score (higher = better), e.g. the output of a KNN
    top-n join widened with vectors. Output: (query_id, id, mmr_score,
    rank) for the k picks in selection order.

    Scale: greedy MMR is inherently sequential IN k, so it runs
    in-task per query over the ALREADY-PRUNED candidate list (top-n
    from KNN/ANN, n ~ tens) — an ``applyInPandas`` group per query:
    O(n·k·d) NumPy per group, no shuffle beyond the group exchange,
    never the corpus. The explicit-count repartition guards the
    CPU-dense/byte-light shuffle from AQE single-task coalescing (the
    index/build.py:128 lesson).
    """
    import pandas as pd

    spark = candidates.sparkSession

    def pick(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_candidates_per_query:
            # greedy MMR is O(n·k·d) per group IN ONE TASK; a corpus-
            # sized candidate list means the upstream top-n prune was
            # skipped — fail loudly instead of stalling an executor
            raise ValueError(
                f"mmr_rerank candidate list for one query has {len(pdf)} rows "
                f"(> max_candidates_per_query={max_candidates_per_query}); "
                "prune with a KNN/ANN top-n join first"
            )
        pdf = pdf.sort_values([score_col, id_col], ascending=[False, True],
                              ignore_index=True)
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = 1.0
        xn = x / norms[:, None]
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        picked: list[int] = []
        scores: list[float] = []
        max_sim = np.zeros(n)
        avail = np.ones(n, dtype=bool)
        for step in range(min(k, n)):
            # first pick is pure relevance; later picks trade relevance
            # against similarity to the closest already-picked item
            mmr = rel if step == 0 else lam * rel - (1.0 - lam) * max_sim
            mmr_masked = np.where(avail, mmr, -np.inf)
            best = int(np.argmax(mmr_masked))  # ties: lowest index = best (score, id)
            picked.append(best)
            scores.append(float(mmr_masked[best]))
            avail[best] = False
            max_sim = np.maximum(max_sim, xn @ xn[best])
        out = pdf.iloc[picked][[query_id_col, id_col]].copy()
        out["mmr_score"] = [round(s, 6) for s in scores]
        out["rank"] = range(1, len(picked) + 1)
        return out

    rep = candidates.repartition(
        2 * spark.sparkContext.defaultParallelism, query_id_col
    )
    return (
        rep.groupBy(query_id_col)
        .applyInPandas(
            pick,
            schema=f"{query_id_col} long, {id_col} long, mmr_score double, rank int",
        )
    )


def _range_prune_threshold(t: float, rmax_b: float) -> float:
    """Keep-cell threshold with floating-point slack: a cell survives
    iff d(q, c) ≤ t + R_c + eps. The triangle-inequality bound is exact
    in real arithmetic, but d(q,c) and R_c come from different kernels
    (driver GEMM vs codegen sequential fold), so ulp-level noise could
    otherwise prune a cell whose match sits exactly at the radius.
    False KEEPS are harmless — every candidate is re-scored with the
    exact metric and filtered — so the slack only ever widens the scan.
    """
    return t + rmax_b + 1e-12 + 1e-9 * (t + rmax_b)


# Dimension from which ivf_range_join's distributed mode re-joins the
# vectors by id instead of carrying them with every surviving pair.
IDS_PAYLOAD_MIN_DIM = 256


def ivf_range_join(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    n_centroids: int = 16,
    metric: Metric | str = Metric.L2,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    seed: int = 42,
    query_mode: str = "auto",
    max_driver_queries: int = 65536,
    block_size: int = 4096,
) -> DataFrame:
    """EXACT radius search with IVF cell pruning — same results as the
    brute ``knn.range_join``, scanning only the cells that can contain
    a match. Triangle inequality in the routing geometry: for any v in
    the cell of centroid c with member radius R_c = max d(v, c),
    d(q, v) ≥ d(q, c) − R_c, so a cell with d(q, c) > t + R_c cannot
    hold a match and is skipped with NO recall loss. The 100 TB story:
    the coarse quantizer turns a full-corpus scan into a probed-cells
    scan exactly like the ANN path, but the t + R_c bound keeps it
    EXACT — an accelerated twin, not an approximation.

    **Metrics.** L2 routes directly (t = radius). COSINE routes via the
    unit-norm reduction: on normalized vectors ‖v̂−q̂‖² = 2·(1−cos), so
    cosine-distance ≤ r is EXACTLY L2 ≤ √(2r) in the normalized
    geometry — cells, R_c, and routing all live on the unit sphere
    (t = √(2r)), while candidates are re-scored with the plain cosine
    formula on the ORIGINAL vectors (zero-norm rows keep the reference
    convention sim = 0 ⇒ distance 1, Distances.java:149-153; the
    normalized copy of a zero vector is the zero vector, whose cell
    membership only ever widens R_c, so pruning stays recall-complete
    for r ≥ 1 where such rows match).

    **query_mode** (the ``ann_ivf_join`` contract): ``"driver"``
    collects the query batch (bounded by ``max_driver_queries`` —
    over it raises ``QuerySideTooLarge``) and broadcasts the routed
    pairs through a pipelined codegen score; ``"distributed"`` routes
    with a codegen per-query cell filter — an array of (d², threshold,
    bucket) structs over the inlined centroids, filtered and exploded,
    a pure narrow map with NO collect anywhere — then scores with the
    block-partitioned GEMM grid (``_blocked_range_score``: ≤
    ``block_size``² pairs per Arrow task, bounded task memory, pair
    count / block_size shuffle rows), so the query side scales to the
    corpus itself (ε-dedup, the op's headline use). ``"auto"`` picks by
    one bounded count. Both modes make the FINAL keep decision with the
    same exact distance (the block pass only pre-filters with
    an fp band), and the cell-prune threshold carries fp slack
    (``_range_prune_threshold``), so both return the brute result set
    exactly — bit-identical distances included.

    **Survivor payload** (distributed mode only): below
    ``IDS_PAYLOAD_MIN_DIM`` dimensions both vectors ride each surviving
    pair out of the GEMM grid (zero extra joins, 2·d·8 bytes per pair);
    at or above it the grid emits bare (query_id, id) pairs and
    re-joins the vectors by key before the exact re-score (two hash
    joins, but each vector crosses the shuffle once). Measured at d=512
    with 4.5·10⁵ dense pairs (N=3000 corpus-self radius), the re-join
    ran 18 s vs 77 s warm (4.3×), because the per-pair Arrow output
    dominates at large d; at d=64 the extra joins cost more than the
    payload saves (SURVEY.md, "shuffle-lean GEMM survivors"). Both
    plans give bit-identical rows (tested).

    Build: k-means centroids (driver O(k·d) on a bounded sample),
    codegen cell assignment (``ivf_assign`` — no shuffle), one ≤ k-row
    aggregate for the cell radii. Returns (query_id, id, distance,
    score).
    """
    metric = Metric(metric)
    r = float(radius)
    if not r >= 0.0:
        raise ValueError("radius must be ≥ 0")
    if query_mode not in ("auto", "driver", "distributed"):
        raise ValueError("query_mode must be auto|driver|distributed")
    spark = vectors.sparkSession
    empty = spark.createDataFrame(
        [], "query_id long, id long, distance double, score double"
    )

    # ONE bounded query-side probe answers emptiness AND mode selection
    # before any centroid-training / corpus-aggregate work is paid.
    # Explicit DISTRIBUTED mode skips the probe (r14): its routing
    # qcount aggregate IS the emptiness check (no probed cells → empty
    # result before any scoring), so the extra Spark job bought nothing
    # in the common path — it only spared centroid training in the
    # empty-queries degenerate case, which now trains and then
    # short-circuits.
    mode = query_mode
    if mode == "auto":
        qn = queries.limit(max_driver_queries + 1).count()
        if qn == 0:
            return empty
        mode = "driver" if qn <= max_driver_queries else "distributed"
    elif mode == "driver" and queries.limit(1).count() == 0:
        return empty

    if metric == Metric.L2:
        t = r
        geom_col = vec_col
        geo_vectors = vectors
        keep: list[str] = []
    else:
        # cosine: route on the unit sphere, score on the originals
        t = float(np.sqrt(2.0 * r))
        geom_col = "_gvec"
        geo_vectors = vectors.select(
            F.col(id_col), F.col(vec_col), normalize(F.col(vec_col)).alias("_gvec")
        )
        keep = [vec_col]

    if centroids is None:
        centroids = train_ivf_centroids(
            geo_vectors, n_centroids, vec_col=geom_col, seed=seed
        )
    cents = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(
        geo_vectors, cents, id_col=id_col, vec_col=geom_col, keep_cols=keep
    )

    # per-cell member radius IN THE ROUTING GEOMETRY: one bounded
    # (≤ k rows) aggregate of the distance to the OWN centroid, read
    # from the bucket-indexed literal centroid array
    cent_arr = F.array(*[lit_double_array(c) for c in cents])
    d_own = l2(F.col(geom_col), F.element_at(cent_arr, F.col("bucket") + 1))
    cell_stats = assigned.groupBy("bucket").agg(
        F.max(d_own).alias("rmax"), F.count("*").alias("n")
    ).collect()
    rmax = {int(row["bucket"]): float(row["rmax"]) for row in cell_stats}
    vcount = {int(row["bucket"]): int(row["n"]) for row in cell_stats}
    if not rmax:
        return empty
    thr = {b: _range_prune_threshold(t, rm) for b, rm in sorted(rmax.items())}

    if mode == "driver":
        qrows = collect_bounded(
            queries.select(query_id_col, query_vec_col),
            max_driver_queries,
            what="ivf_range_join driver-mode query side",
            alternative='query_mode="distributed"',
        )
        if not qrows:
            return empty
        qids = [int(row[0]) for row in qrows]
        qmat = np.array([list(row[1]) for row in qrows], dtype=np.float64)
        qgeo = qmat
        if metric == Metric.COSINE:
            norms = np.linalg.norm(qmat, axis=1)
            qgeo = qmat / np.where(norms == 0.0, 1.0, norms)[:, None]
        # d(q̂, c) for all (query, cell): Q×k GEMM on the driver
        dqc = np.sqrt(np.maximum(sq_l2_matrix(qgeo, cents), 0.0))
        pairs = [
            (qids[qi], int(b), [float(x) for x in qmat[qi]])
            for qi in range(len(qids))
            for b in thr
            if dqc[qi, b] <= thr[b]
        ]
        if not pairs:
            return empty
        routed = F.broadcast(
            spark.createDataFrame(
                pairs, "query_id long, bucket int, _qvec array<double>"
            )
        )
    else:
        pruned = queries.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("_qvec"),
        )
        qgeo_expr = (
            F.col("_qvec") if metric == Metric.L2 else normalize(F.col("_qvec"))
        )
        kc, d = cents.shape
        if kc * d <= 8192:
            # one codegen expression per query row: for every NON-EMPTY
            # cell, (d² to its centroid, its keep threshold, bucket);
            # filter by the per-cell threshold, project buckets, explode.
            # Narrow map, bounded ≤|cells| fan-out, zero Spark jobs to
            # plan — the routing twin of ivf_route for radius queries.
            # F.expr-text construction (r14, the ivf_assign pattern):
            # same optimized plan and threshold semantics as the old
            # per-cell DSL subtrees; thresholds are embedded via
            # CAST('repr' AS DOUBLE), which parses back to the exact
            # same IEEE 754 double the DSL literal carried.
            structs = ", ".join(
                f"named_struct('d2', {_d2_sql('_qgeo', b)}, "
                f"'thr', CAST('{float(tb)!r}' AS DOUBLE), "
                f"'bucket', CAST({int(b)} AS INT))"
                for b, tb in thr.items()
            )
            kept = (
                f"transform(filter(array({structs}), "
                f"s -> SQRT(s.d2) <= s.thr), s -> s.bucket)"
            )
            routed = (
                pruned.withColumn("_qgeo", qgeo_expr)
                .withColumn("_cents", _cents_lit(cents))
                .select(
                    "query_id",
                    "_qvec",
                    F.explode(F.expr(kept)).alias("bucket"),
                )
            )
        else:
            cdf = _centroids_df(spark, cents, double=True).withColumn(
                "_thr",
                F.element_at(
                    F.map_from_arrays(
                        lit_int_array(list(thr)),
                        lit_double_array(list(thr.values())),
                    ),
                    F.col("bucket"),
                ),
            ).where(F.col("_thr").isNotNull())
            scored = (
                pruned.withColumn("_qgeo", qgeo_expr)
                .crossJoin(F.broadcast(cdf))
                .withColumn("_d", l2(F.col("_qgeo"), F.col("centroid")))
            )
            # the fallback route is a crossJoin + filter (a real
            # shuffle); the blocked scorer consumes it twice (qcount +
            # main pass) — checkpoint so it runs once
            routed = scored.where(F.col("_d") <= F.col("_thr")).select(
                "query_id", "_qvec", "bucket"
            ).localCheckpoint(eager=False)
        return _blocked_range_score(
            assigned, routed, vcount, metric, r,
            id_col=id_col, vec_col=vec_col, block_size=block_size,
            carry_vectors=d < IDS_PAYLOAD_MIN_DIM,
        )

    cand = assigned.join(routed, "bucket")
    dist = distance_for_metric(F.col(vec_col), F.col("_qvec"), metric)
    return (
        cand.withColumn("distance", dist)
        .where(F.col("distance") <= r)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
        .select("query_id", F.col(id_col).cast("long").alias("id"), "distance", "score")
    )


def _gemm_noise(vmat: "np.ndarray", qmat: "np.ndarray", metric: Metric) -> float:
    """Magnitude-aware bound on |GEMM distance − direct-formula
    distance| for one block, from the ACTUAL row norms.

    L2: the expanded form ‖v‖² − 2v·q + ‖q‖² carries cancellation
    error e ≤ ε·C·(‖v‖+‖q‖)² (C ≈ dim covers worst-case sequential
    accumulation; BLAS pairwise summation is far better). The sqrt maps
    that to |Δd| ≤ √e — worst exactly at d → 0, where a true
    near-zero pair can surface as √e. Hence √(ε·dim)·(max‖v‖+max‖q‖):
    ~8e-7 for unit-norm 768-d data, but correctly ~8e-3 for norms ~1e4
    where the old fixed 1e-6 band silently dropped true matches.

    Cosine: sims are normalized O(1); relative dot error ~ ε·dim plus
    two divisions — 4·ε·dim is a generous cover (≈ 7e-13 at 768-d).

    False keeps cost only the exact re-score; the bound errs generous.
    """
    eps = float(np.finfo(np.float64).eps)
    dim = max(vmat.shape[1], 1)
    if metric == Metric.L2:
        vmax = float(np.sqrt((vmat * vmat).sum(axis=1).max(initial=0.0)))
        qmax = float(np.sqrt((qmat * qmat).sum(axis=1).max(initial=0.0)))
        return float(np.sqrt(eps * dim) * (vmax + qmax))
    return 4.0 * eps * dim


def _blocked_candidates(
    assigned: DataFrame,
    routed: DataFrame,
    vcount: dict[int, int],
    metric: Metric,
    id_col: str,
    vec_col: str,
    block_size: int,
    select_pairs,
    carry_vectors: bool = True,
) -> DataFrame | None:
    """Block-partitioned GEMM candidate scan shared by the distributed
    radius and top-k paths — the grid form of a distance join: within
    each probed cell, the member side is split into ⌈n_v/B⌉ salts and
    the routed-query side into ⌈n_q/B⌉ salts; every (vsalt, qsalt)
    block meets in ONE cogrouped Arrow task of ≤ 2B rows, which scores
    its ≤ B×B pairs with the NumPy GEMM kernel (the ``knn_join`` batch
    path — far above the per-row exact-kernel rate) and emits the pairs
    ``select_pairs(d_matrix, noise) -> (vi, qi)`` chooses (within-radius+band,
    or per-query banded top-k). With ``carry_vectors=True`` survivors
    carry BOTH vectors so the caller can re-score them with the SAME
    exact distance column the driver mode uses — block selection
    noise cannot change final results as long as select_pairs keeps a
    band-superset. With ``carry_vectors=False`` survivors are bare
    (query_id, id) pairs — the caller re-joins the vectors by id before
    the exact re-score (``_blocked_range_score`` does this) — trading
    two hash joins for 2·d doubles of shuffle per surviving pair: the
    right side of the trade once expected pairs × d outgrows the
    corpus (dense ε-dedup at d ≥ a few hundred).
    ``select_pairs(d, noise)`` also receives the block's
    magnitude-aware GEMM error bound (from the actual row norms — see
    ``_gemm_noise``) so its band covers large-norm inputs, where the
    expanded-form cancellation error exceeds any fixed constant.

    Scale shape: shuffle volume is n_v·⌈n_q/B⌉ + n_q·⌈n_v/B⌉ input
    rows (pair count / B — block replication, the standard
    distributed-GEMM trade) PLUS the survivor pairs, each of which
    ships both full vectors (2·d doubles per pair) so the exact
    re-score needs no second join — for dense outputs (ε-dedup at a
    loose radius) that term dominates; size ε so the expected pair
    count is O(corpus). Task memory: 2B·d doubles for the two vector
    blocks PLUS the B×B float64 distance matrix — B²·8 bytes, ~134 MB
    at the default block_size=4096 — which dominates for d < B. Pick
    block_size so B²·8 fits comfortably per task (2048 → 33 MB on
    lean executors). Parallelism is Σ_cells S_v·S_q blocks (at
    real scale n_centroids ~ √N keeps both factors small). The
    explicit-count repartition pins the CPU-dense/byte-light shuffle
    against AQE single-task coalescing (the index/build.py:128
    lesson). Both salts are cast to int at creation: cogroup sides
    with different key byte widths hash-partition differently and
    silently never co-locate.

    Returns (query_id, id, _v, _q) or None when no query probes any
    cell.
    """
    import pandas as pd

    from vectorsearch_spark.operators.knn import _batch_distances

    spark = assigned.sparkSession
    # per-cell query counts: one bounded (≤ |cells| rows) aggregate —
    # the only extra job of the blocked path. The codegen route is a
    # stateless narrow expression (recompute costs no shuffle); the
    # large-codebook fallback routes are localCheckpointed at creation
    # so their crossJoin/window shuffle runs once.
    qcount = {
        int(row["bucket"]): int(row["n"])
        for row in routed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    if not qcount:
        return None
    buckets = sorted(qcount)
    sv = {b: max(1, -(-vcount.get(b, 1) // block_size)) for b in buckets}
    sq = {b: max(1, -(-qcount[b] // block_size)) for b in buckets}
    bucket_arr = lit_int_array(buckets)
    sv_map = F.map_from_arrays(bucket_arr, lit_int_array([sv[b] for b in buckets]))
    sq_map = F.map_from_arrays(bucket_arr, lit_int_array([sq[b] for b in buckets]))

    # members: one vsalt each, replicated across the cell's qsalts;
    # queries: one qsalt each, replicated across the cell's vsalts
    left = (
        assigned.withColumn("_sq", F.element_at(sq_map, F.col("bucket")))
        .where(F.col("_sq").isNotNull())  # cells no query probes are dead
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).alias(vec_col),
            "bucket",
            # hash before mod: strided/sharded id schemes (ids all
            # multiples of a factor of the salt count) would otherwise
            # collapse every row into one salt and hand a whole cell to
            # one task — the exact unbounded-memory case the grid exists
            # to prevent
            F.pmod(
                F.hash(F.col(id_col).cast("long")),
                F.element_at(sv_map, F.col("bucket")),
            ).cast("int").alias("vsalt"),
            F.explode(F.sequence(F.lit(0), F.col("_sq") - 1)).alias("qsalt"),
        )
    )
    right = (
        routed.withColumn("_sv", F.element_at(sv_map, F.col("bucket")))
        .where(F.col("_sv").isNotNull())
        .select(
            "query_id",
            "_qvec",
            "bucket",
            F.pmod(
                F.hash(F.col("query_id")), F.element_at(sq_map, F.col("bucket"))
            ).cast("int").alias("qsalt"),
            F.explode(F.sequence(F.lit(0), F.col("_sv") - 1)).alias("vsalt"),
        )
    )

    def score_block(lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(lpdf) or not len(rpdf):
            cols = {"query_id": pd.Series([], dtype="int64"),
                    "id": pd.Series([], dtype="int64")}
            if carry_vectors:
                cols["_v"] = pd.Series([], dtype="object")
                cols["_q"] = pd.Series([], dtype="object")
            return pd.DataFrame(cols)
        vmat = np.stack(lpdf[vec_col].to_numpy()).astype(np.float64)
        ids = lpdf[id_col].to_numpy()
        qmat = np.stack(rpdf["_qvec"].to_numpy()).astype(np.float64)
        qids = rpdf["query_id"].to_numpy()
        d = _batch_distances(vmat, qmat, metric)  # (n_v, n_q) GEMM
        vi, qi = select_pairs(d, _gemm_noise(vmat, qmat, metric))
        cols = {
            "query_id": pd.Series(qids[qi], dtype="int64"),
            "id": pd.Series(ids[vi], dtype="int64"),
        }
        if carry_vectors:
            cols["_v"] = pd.Series([vmat[i].tolist() for i in vi], dtype="object")
            cols["_q"] = pd.Series([qmat[j].tolist() for j in qi], dtype="object")
        return pd.DataFrame(cols)

    # scale-adaptive partition count (r14, guide §2): the grid has
    # exactly Σ_cells sv·sq distinct (bucket, vsalt, qsalt) groups —
    # repartitioning into more partitions than groups just schedules
    # empty tasks (at bench scale 16 groups rode 64 partitions; at
    # production scale groups ≫ cores and the cap binds as before).
    total_groups = sum(sv[b] * sq[b] for b in buckets)
    n_part = max(1, min(2 * spark.sparkContext.defaultParallelism, total_groups))
    keys = ["bucket", "vsalt", "qsalt"]
    schema = "query_id long, id long"
    if carry_vectors:
        schema += ", _v array<double>, _q array<double>"
    return (
        left.repartition(n_part, *keys)
        .groupBy(*keys)
        .cogroup(right.repartition(n_part, *keys).groupBy(*keys))
        .applyInPandas(score_block, schema=schema)
    )


def _blocked_range_score(
    assigned: DataFrame,
    routed: DataFrame,
    vcount: dict[int, int],
    metric: Metric,
    r: float,
    id_col: str,
    vec_col: str,
    block_size: int,
    carry_vectors: bool = True,
) -> DataFrame:
    """Radius instance of ``_blocked_candidates``: keep pairs within
    r plus an fp band, re-score survivors with the exact
    distance and filter ≤ r — driver ≡ distributed bit-identity.
    The band is magnitude-aware (``_gemm_noise`` from the block's
    actual row norms), not a fixed constant — large-norm inputs carry
    proportionally larger expanded-form cancellation error. False
    keeps are re-filtered exactly.

    ``carry_vectors=False`` is the shuffle-lean variant for DENSE
    survivor sets (loose-ε dedup at large d): the grid emits bare
    (query_id, id) pairs — 16 bytes each instead of 16 + 2·d·8 — and
    the two vector payloads are re-attached here with hash joins
    against the corpus / distinct-query sides before the SAME exact
    re-score, so results are bit-identical to the carrying mode."""

    def within_radius(d, noise):
        return np.nonzero(d <= r + 1e-6 + 1e-9 * r + 2.0 * noise)

    surv = _blocked_candidates(
        assigned, routed, vcount, metric,
        id_col=id_col, vec_col=vec_col, block_size=block_size,
        select_pairs=within_radius, carry_vectors=carry_vectors,
    )
    if surv is None:
        return assigned.sparkSession.createDataFrame(
            [], "query_id long, id long, distance double, score double"
        )
    if not carry_vectors:
        # re-attach payloads by key: each corpus/query vector crosses
        # the join shuffle ONCE, however many pairs reference it. A
        # query routed to several cells appears once per cell in
        # `routed` — dropDuplicates on the key (not the array) keeps
        # one copy; pair keys are already unique (one cell per member).
        vvecs = assigned.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("_v")
        )
        qvecs = routed.select("query_id", F.col("_qvec").alias("_q")).dropDuplicates(
            ["query_id"]
        )
        surv = surv.join(vvecs, "id").join(qvecs, "query_id")
    dist = distance_for_metric(F.col("_v"), F.col("_q"), metric)
    return (
        surv.withColumn("distance", dist)
        .where(F.col("distance") <= r)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
        .select("query_id", "id", "distance", "score")
    )
