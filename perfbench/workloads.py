"""The benchmark's workloads, driven only through the public index API.

Both workloads are closed loops with one client: each operation is
issued after the previous one returns. A workload object does its
set-up (index build), then repeats its timed unit until the run's
deadline, always at least once.

- ``query_mix`` — read-only rotation over a sealed index: every
  candidate generator and both query placements (collected ``search``
  and distributed ``search_join``), with the codebook cache warm.
- ``churn`` — writes beside reads: add, delete, search over mixed
  segment states, build, vacuum and a planner-driven compaction per
  cycle, in a steady state (live row count and segment shapes repeat
  from cycle to cycle).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench.data import DIM, Mixture, exact_topk, recall_at_k
from perfbench.host import tree_cpu_s
from perfbench.tracing import SPARK_COUNTERS, SparkCounters, Tracer

K = 10
SEGMENT = 500          # max_segment_size: rows per full segment
SEGMENTS = 4           # sealed segments at set-up; a multiple of the 4 local cores
SEARCH_BATCH = 64      # queries per collected `search`
JOIN_BATCH = 128       # queries per distributed `search_join`
INDEX_CONFIG = dict(
    dimension=DIM,
    max_segment_size=SEGMENT,
    pq_m=16,
    pq_k=256,
    graph_degree=32,
    graph_build_breadth=64,
    graph_alpha=1.2,
    oversample=4,
)
EXACT_DISTANCE_TOL = 1e-4

# Streams of the seeded mixture (see data.Mixture.draw).
BASE, SEARCH_Q, JOIN_Q, CHURN_ADD, CHURN_Q, DELETES, KERNEL = 1, 2, 3, 1000, 2000, 3000, 4000


def dir_stats(path: str) -> dict[str, tuple[int, float]]:
    """relative file path -> (bytes, mtime) for every file under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime)
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, file count) under ``path``."""
    stats = dir_stats(path) if os.path.isdir(path) else {}
    return sum(s for s, _ in stats.values()), len(stats)


def rewritten_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two snapshots."""
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def result_problems(rows, k: int, deleted: np.ndarray | None = None) -> list[str]:
    """Shape checks every search result must pass: at most ``k`` rows
    per query, distinct gids per query, and no deleted gid."""
    problems = []
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(int(r["gid"]))
    for qid, gids in by_q.items():
        if len(gids) > k:
            problems.append(f"query {qid}: {len(gids)} rows > k={k}")
        if len(set(gids)) != len(gids):
            problems.append(f"query {qid}: duplicate gids")
        if deleted is not None:
            dead = [g for g in gids if g >= len(deleted) or deleted[g]]
            if dead:
                problems.append(f"query {qid}: deleted or unknown gids {dead[:5]}")
    return problems


def by_query(rows) -> dict[int, list[int]]:
    """query_id -> gids in rank order."""
    out: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["gid"])))
    return {q: [g for _, g in sorted(v)] for q, v in out.items()}


class Runner:
    """Issues operations, records their wall time and correctness, and,
    when tracing, their spans and Spark counters."""

    def __init__(self, spark, trace: bool):
        self.tracer = Tracer(trace)
        self.counters = SparkCounters(spark) if trace else None
        self.cores = spark.sparkContext.defaultParallelism
        self.phase = "setup"
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.overhead_s = 0.0

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def check(self, problems: list[str]) -> None:
        """Record one correctness check made outside any operation."""
        self.attempted += 1
        self._record(problems)

    def _record(self, problems: list[str]) -> None:
        for p in problems:
            self.problems.append(p)
            print(f"check failed: {p}", file=sys.stderr)
        self.failed += bool(problems)

    def op(self, name: str, fn, check=None):
        """Run ``fn`` as one operation named ``name``.

        ``check(result)`` returns a list of problems. An exception or a
        problem marks the operation failed; neither is raised, so the
        run goes on and reports the failure count.
        """
        self.attempted += 1
        op_id = self.tracer.new_op()
        group = f"perfbench-op-{op_id}"
        if self.counters:
            self.counters.begin(group)
        record = {"op": name, "phase": self.phase, "op_id": op_id}
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op_id):
                result = fn(record)
            ok = True
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            result, ok = None, False
        record["wall_s"] = time.perf_counter() - t0
        record["cpu_s"] = tree_cpu_s() - c0
        if self.counters:
            t1 = time.perf_counter()
            self.counters.end()
            record.update(self.counters.collect(group))
            self.overhead_s += time.perf_counter() - t1
        problems = [f"{name}: raised"] if not ok else (check(result) if check else [])
        self._record(problems)
        record["ok"] = not problems
        self.ops.append(record)
        return result

    def timed(self, record: dict, key: str, fn):
        """Run ``fn`` inside a child span, storing its seconds in ``record[key]``."""
        t0 = time.perf_counter()
        with self.tracer.span(key):
            out = fn()
        record[key] = time.perf_counter() - t0
        return out

    def search_op(self, name: str, call, k: int, deleted=None, check=None):
        """An op that builds a search DataFrame (``construct_s``) and
        collects it (``action_s``); returns the collected rows. Every
        result gets the shape checks, plus ``check(rows)`` if given."""

        def run(record):
            df = self.timed(record, "construct_s", call)
            return self.timed(record, "action_s", df.collect)

        def checks(rows):
            return result_problems(rows, k, deleted) + (check(rows) if check else [])

        return self.op(name, run, checks)

    def instrument(self, index) -> None:
        """When tracing, wrap the index's public methods on this instance
        so that calls the package makes through them (``build`` inside
        ``compact``, ``codebooks_np`` inside ``search``) show as child
        spans. A ``codebooks_np`` call that reaches ``codebooks`` read
        the table: a cold cache."""
        if not self.tracing:
            return
        tracer = self.tracer
        names = ("add", "build", "search", "search_join", "delete", "vacuum",
                 "plan_compaction", "compact", "codebooks_np", "codebooks")
        for name in names:
            method = getattr(index, name)

            def wrapped(*args, _method=method, _name=name, **kwargs):
                with tracer.span(f"index.{_name}"):
                    if _name == "codebooks" and len(tracer._stack) > 1:
                        tracer._stack[-2].attrs["cold"] = True
                    return _method(*args, **kwargs)

            setattr(index, name, wrapped)

    def snapshot(self, path: str) -> dict | None:
        """Directory snapshot for bytes-rewritten accounting (tracing only)."""
        if not self.tracing:
            return None
        t0 = time.perf_counter()
        snap = dir_stats(path)
        self.overhead_s += time.perf_counter() - t0
        return snap


class Workload:
    """Shared set-up: session-owning runner, seeded inputs, index root."""

    name = ""

    def __init__(self, spark, runner: Runner, seed: int, work_dir: str):
        from vectorsearch_spark.config import IndexConfig

        self.spark = spark
        self.run = runner
        self.seed = seed
        self.mix = Mixture(seed)
        self.work_dir = work_dir
        self.config = IndexConfig(name=f"perfbench-{self.name}", **INDEX_CONFIG)
        self.unit_s: list[float] = []
        self.unit_cpu_s: list[float] = []
        self.recalls: list[float] = []
        self.space_amp = 0.0
        self.details: dict = {}

    def frame(self, vectors: np.ndarray, ids: np.ndarray | None = None):
        import pandas as pd

        cols = {"embedding": list(vectors)}
        if ids is not None:
            cols = {"query_id": ids.astype(np.int64), **cols}
        return self.spark.createDataFrame(pd.DataFrame(cols))

    def add(self, df, n: int, start: int):
        def call(record):
            record["rows"] = n
            return self.index.add(df)

        return self.run.op(
            "add", call, lambda g: [] if g == start else [f"add: first gid {g} != {start}"]
        )

    def build(self, expect: int) -> list[int]:
        def call(record):
            built = self.index.build()
            record["segments"] = len(built)
            return built

        return self.run.op(
            "build", call,
            lambda b: [] if len(b) == expect else [f"build: built {b}, expected {expect}"],
        )

    def index_path(self, tag: str) -> str:
        path = os.path.join(self.work_dir, f"{self.name}-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def space(self, path: str, live: int) -> float:
        return tree_bytes(path)[0] / (live * DIM * 4)

    def storage(self, path: str) -> dict:
        vb, vf = tree_bytes(os.path.join(path, "vectors"))
        ab, af = tree_bytes(os.path.join(path, "artifacts"))
        return {"storage.vectors_bytes": vb, "storage.vectors_files": vf,
                "storage.artifacts_bytes": ab, "storage.artifacts_files": af}

    def execute(self, seconds: float) -> tuple[float, float]:
        """Set up, then repeat the timed unit for ``seconds`` (at least
        once). Returns the monotonic time and the process-tree CPU
        seconds at which timing began.

        There is no warm-up: a unit takes about as long as set-up, and a
        run cannot afford more than one. The first unit after set-up is
        timed and carries the first-use cost of each op kind, as a batch
        job in a fresh session does."""
        self.setup()
        self.run.phase = "timed"
        timed_start = time.perf_counter()
        timed_start_cpu = tree_cpu_s()
        while True:
            first = len(self.run.ops)
            self.unit()
            ops = self.run.ops[first:]
            self.unit_s.append(sum(o["wall_s"] for o in ops))
            self.unit_cpu_s.append(sum(o["cpu_s"] for o in ops))
            if time.perf_counter() - timed_start >= seconds:
                break
        self.finish()
        return timed_start, timed_start_cpu


class QueryMix(Workload):
    """Read-only rotation on a sealed index built during set-up."""

    name = "query_mix"

    def setup(self) -> None:
        from vectorsearch_spark.index import SearchParams, VectorIndex

        n = SEGMENT * SEGMENTS
        self.base = self.mix.draw(BASE, n)
        qs = self.mix.draw(SEARCH_Q, SEARCH_BATCH)
        qj = self.mix.draw(JOIN_Q, JOIN_BATCH)
        gids = np.arange(n)
        self.truth_s, _ = exact_topk(self.base, gids, qs, K)
        self.truth_j, self.truth_j_dist = exact_topk(self.base, gids, qj, K)
        self.q_search = self.frame(qs, np.arange(len(qs)))
        self.q_join = self.frame(qj, np.arange(len(qj)))
        self.path = self.index_path("index")
        self.index = idx = VectorIndex.create(self.spark, self.path, self.config)
        self.run.instrument(idx)
        self.add(self.frame(self.base), n, 0)
        sealed = self.build(SEGMENTS)
        # fill the index's in-process codebook cache: the rotation runs warm
        self.run.op("codebooks", lambda r: idx.codebooks_np(sealed or []))
        # a maintenance poll on a sealed index of full segments finds no work
        self.run.op("plan", lambda r: idx.plan_compaction(),
                    lambda p: [] if p == [] else [f"plan: proposed {p} on a full sealed index"])
        P = SearchParams
        # (op, placement, params, query frame, truth)
        self.rotation = [
            ("pq", idx.search, P(), self.q_search, self.truth_s),
            ("join_pq", idx.search_join, P(mode="PQ"), self.q_join, self.truth_j),
            ("join_graph", idx.search_join, P(mode="GRAPH"), self.q_join, self.truth_j),
            ("exact", idx.search_join, P(), self.q_join, self.truth_j),
        ]
        self.graph_op = ("graph", idx.search, P(mode="GRAPH"), self.q_search, self.truth_s)
        self.op_recalls: dict[str, list[float]] = {}

    def query(self, name, call, params, qdf, truth) -> None:
        check = self.check_exact if name == "exact" else None
        rows = self.run.search_op(name, lambda: call(qdf, K, params), K, check=check)
        if rows is not None and name != "exact":
            self.op_recalls.setdefault(name, []).append(
                recall_at_k(by_query(rows), truth, range(len(truth)))
            )

    def check_exact(self, rows) -> list[str]:
        """Exhaustive search must return the true top-k: same gids in
        rank order, distances within ``EXACT_DISTANCE_TOL``."""
        got: dict[int, list[tuple[int, int, float]]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["gid"]), float(r["distance"]))
            )
        for q in range(len(self.truth_j)):
            ranked = sorted(got.get(q, []))
            gids = [g for _, g, _ in ranked]
            if gids != self.truth_j[q].tolist():
                return [f"exact: query {q} gids {gids} != truth {self.truth_j[q].tolist()}"]
            err = np.abs(np.array([d for _, _, d in ranked]) - self.truth_j_dist[q]).max()
            if err > EXACT_DISTANCE_TOL:
                return [f"exact: query {q} distance error {err:.2e} > {EXACT_DISTANCE_TOL}"]
        return []

    def unit(self) -> None:
        for spec in self.rotation:
            self.query(*spec)

    def finish(self) -> None:
        """A traced run adds one collected GRAPH search (about 30 s), so
        that ``search.max_*`` shows where GRAPH's batch time goes. The
        run's recall is the lowest of the rotation's approximate paths,
        so a loss on any one path shows in full."""
        if self.run.tracing:
            self.query(*self.graph_op)
        timed = [o for o in self.run.ops if o["phase"] == "timed"]
        self.recalls = [min((float(np.mean(vs)) for name, vs in self.op_recalls.items()
                             if name != "graph"), default=0.0)]
        self.space_amp = self.space(self.path, len(self.base))
        self.details = {
            "storage": self.storage(self.path),
            "recall_by_op": {k: float(np.mean(v)) for k, v in self.op_recalls.items()},
            "batch_s_by_op": {
                name: [o["wall_s"] for o in timed if o["op"] == name]
                for name in [s[0] for s in self.rotation] + ["graph"]
            },
        }
        shutil.rmtree(self.path, ignore_errors=True)


class Churn(Workload):
    """Writes beside reads on a set-up index, in a steady state.

    Each cycle adds one segment's worth of rows (the ACTIVE segment,
    half full, fills and rotates to PENDING; the rest starts the next
    ACTIVE), deletes 62.5% of the oldest full sealed segment and half of
    the previous compaction's output, searches over the mixed ACTIVE,
    PENDING and SEALED states, builds the pending segment, vacuums what
    ``vacuum_due`` returns and compacts what the planner proposes. The
    two vacuumed segments then hold 0.75 of a segment together, under
    the planner's 0.8 budget, so every cycle compacts; rows deleted per
    cycle equal rows added, so the live count stays level.
    """

    name = "churn"

    def setup(self) -> None:
        from vectorsearch_spark.index import VectorIndex

        n = SEGMENT * SEGMENTS + SEGMENT // 2
        self.vectors = self.mix.draw(BASE, n)
        self.deleted = np.zeros(n, dtype=bool)
        # gid groups oldest first: full ingest segments and compaction outputs
        self.full = [np.arange(i * SEGMENT, (i + 1) * SEGMENT) for i in range(SEGMENTS)]
        self.compacted: np.ndarray | None = None
        self.cycle = 0
        self.vacuums = 0
        self.compactions = 0
        self.search_s: list[float] = []
        self.write_vps: list[float] = []
        self.path = self.index_path("index")
        self.index = VectorIndex.create(self.spark, self.path, self.config)
        self.run.instrument(self.index)
        self.add(self.frame(self.vectors), n, 0)
        self.build(SEGMENTS)

    def pick_deletes(self, rng) -> np.ndarray:
        """62.5% of the oldest full segment plus half of the last
        compaction output (before the first compaction: 62.5% of the two
        oldest full segments)."""
        sources = [(self.full.pop(0), 0.625)]
        if self.compacted is None:
            sources.append((self.full.pop(0), 0.625))
        else:
            sources.append((self.compacted, 0.5))
        picked = []
        for gids, share in sources:
            live = gids[~self.deleted[gids]]
            picked.append(rng.choice(live, size=int(len(live) * share), replace=False))
        survivors = np.concatenate([g[~np.isin(g, p)] for (g, _), p in zip(sources, picked)])
        self.next_compacted = np.sort(survivors)
        return np.sort(np.concatenate(picked))

    def unit(self) -> None:
        from vectorsearch_spark.index.maintenance import vacuum_due

        run, idx = self.run, self.index
        self.cycle += 1
        rng = np.random.default_rng([self.seed, DELETES, self.cycle])
        start = len(self.vectors)
        new = self.mix.draw(CHURN_ADD + self.cycle, SEGMENT)
        add_df = self.frame(new)
        queries = self.mix.draw(CHURN_Q + self.cycle, SEARCH_BATCH)
        q_df = self.frame(queries, np.arange(len(queries)))
        first_op = len(run.ops)

        self.add(add_df, len(new), start)
        self.vectors = np.concatenate([self.vectors, new])
        self.deleted = np.concatenate([self.deleted, np.zeros(len(new), dtype=bool)])
        # the half-full ACTIVE segment filled with the first half of this batch
        half = SEGMENT // 2
        self.full.append(np.arange(start - half, start + half))

        doomed = self.pick_deletes(rng)
        run.op("delete", lambda r: idx.delete(doomed.tolist()),
               lambda c: [] if c == len(doomed) else [f"delete: {c} of {len(doomed)}"])
        self.deleted[doomed] = True

        rows = run.search_op("search", lambda: idx.search(q_df, K), K, self.deleted)
        self.search_s.append(run.ops[-1]["wall_s"])
        if rows is not None:
            live = np.flatnonzero(~self.deleted)
            truth, _ = exact_topk(self.vectors[live], live, queries, K)
            self.recalls.append(recall_at_k(by_query(rows), truth, range(len(truth))))

        self.build(1)

        due = vacuum_due(idx)
        run.check([] if len(due) == 2 else [f"vacuum_due returned {due}, expected two segments"])
        for seg in due:
            before = run.snapshot(self.path)
            run.op("vacuum", lambda r: idx.vacuum(seg),
                   lambda done: [] if done else [f"vacuum {seg}: not done"])
            self.rewritten(before)
            self.vacuums += run.ops[-1]["ok"]

        plan = run.op("plan", lambda r: idx.plan_compaction(),
                      lambda p: [] if len(p) >= 2 else [f"plan: proposed {p}"])
        if plan:
            before = run.snapshot(self.path)
            run.op("compact", lambda r: idx.compact(plan))
            self.rewritten(before)
            self.compactions += run.ops[-1]["ok"]
        self.compacted = self.next_compacted
        total = sum(o["wall_s"] for o in run.ops[first_op:])
        self.write_vps.append(len(new) / total)

    def rewritten(self, before) -> None:
        if before is not None:
            t0 = time.perf_counter()
            self.run.ops[-1]["bytes_rewritten"] = rewritten_bytes(before, dir_stats(self.path))
            self.run.overhead_s += time.perf_counter() - t0

    def finish(self) -> None:
        """gid -> vector must survive every vacuum and compaction, and
        exactly the undeleted gids must stay live."""
        run = self.run
        timed = [o for o in run.ops if o["phase"] == "timed"]
        for op in ("vacuum", "compact"):
            done = any(o["op"] == op and o["ok"] for o in timed)
            run.check([] if done else [f"churn: no {op} completed in the timed cycles"])

        def check(rows):
            live = np.flatnonzero(~self.deleted)
            got = {int(r["gid"]): r["embedding"] for r in rows}
            if sorted(got) != live.tolist():
                return [f"vectors: {len(got)} live gids, expected {len(live)}"]
            stored = np.array([got[g] for g in live], dtype=np.float32)
            if not np.array_equal(stored, self.vectors[live]):
                return ["vectors: a gid's embedding changed"]
            return []

        run.phase = "check"
        run.op("read_vectors", lambda r: self.index.vectors()
               .filter("NOT deleted").select("gid", "embedding").collect(), check)
        live = int((~self.deleted).sum())
        self.space_amp = self.space(self.path, live)
        self.details = {
            "storage": self.storage(self.path),
            "cycles": self.cycle,
            "live_rows": live,
            "vacuums": self.vacuums,
            "compactions": self.compactions,
            "search_s": self.search_s,
            "write_vps": self.write_vps,
        }
        shutil.rmtree(self.path, ignore_errors=True)


WORKLOADS = {w.name: w for w in (QueryMix, Churn)}


def kernel_metrics(workload: Workload) -> dict[str, float]:
    """Seconds of the public PQ and graph kernels on one generated
    segment, as a segment build and a search call them: train, encode
    and graph build once; LUT build and LUT scan per query."""
    from vectorsearch_spark.operators.graph import build_graph
    from vectorsearch_spark.operators.pq import approx_distances, build_lut, encode, train_codebook

    cfg, tracer = workload.config, workload.run.tracer
    seg = workload.mix.draw(KERNEL, SEGMENT)
    queries = workload.mix.draw(KERNEL + 1, SEARCH_BATCH)
    out = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        with tracer.span(f"operators.{name}", tracer.new_op()):
            result = fn()
        out[f"operators.{name}_s"] = time.perf_counter() - t0
        return result

    codebook = timed("train_codebook", lambda: train_codebook(
        seg, cfg.pq_m, cfg.pq_k, cfg.pq_iters, cfg.seed))
    codes = timed("encode", lambda: encode(seg, codebook))
    luts = timed("build_lut", lambda: [build_lut(codebook, q) for q in queries])
    timed("approx_distances", lambda: [approx_distances(codes, lut) for lut in luts])
    timed("build_graph", lambda: build_graph(
        seg, cfg.graph_degree, cfg.graph_build_breadth, cfg.graph_alpha, cfg.seed))
    return out


MAINTENANCE_OPS = ("delete", "vacuum", "plan", "compact")


def layer_metrics(run: Runner, workload: Workload) -> dict[str, float]:
    """Per-layer figures of a traced run, summed over its set-up and
    timed operations (not the final checks), so that both ``setup_s``
    and ``op_cpu_s`` can be explained from them."""
    ops = [o for o in run.ops if o["phase"] in ("setup", "timed")]
    op_ids = {o["op_id"] for o in ops}
    searches = [o for o in ops if "construct_s" in o]

    def total(key, names=None):
        return float(sum(o.get(key, 0) for o in ops if names is None or o["op"] in names))

    out = {f"spark.{c}": total(c) for c in SPARK_COUNTERS}
    wall = total("wall_s")
    out["spark.parallelism"] = out["spark.executor_run_s"] / (wall * run.cores) if wall else 0.0
    out["search.construct_s"] = total("construct_s")
    out["search.action_s"] = total("action_s")
    # the slowest search call: the collected GRAPH search on a traced query_mix
    slowest = max(searches, key=lambda o: o["wall_s"], default={})
    out["search.max_construct_s"] = float(slowest.get("construct_s", 0))
    out["search.max_action_s"] = float(slowest.get("action_s", 0))
    out["search.max_jobs"] = float(slowest.get("jobs", 0))
    calls = [s for s in run.tracer.spans if s.name == "index.codebooks_np" and s.op_id in op_ids]
    out["catalog.codebooks_cold_s"] = sum(s.duration for s in calls if s.attrs.get("cold"))
    out["catalog.codebooks_warm_s"] = sum(s.duration for s in calls if not s.attrs.get("cold"))
    out["ingest.add_s"] = total("wall_s", ("add",))
    out["ingest.rows"] = total("rows", ("add",))
    out["build.build_s"] = total("wall_s", ("build",))
    out["build.segments"] = total("segments", ("build",))
    out["maintenance.s"] = total("wall_s", MAINTENANCE_OPS)
    out["maintenance.vacuums"] = float(sum(o["op"] == "vacuum" and o["ok"] for o in ops))
    out["maintenance.compactions"] = float(sum(o["op"] == "compact" and o["ok"] for o in ops))
    out["maintenance.bytes_rewritten"] = total("bytes_rewritten")
    out.update({k: float(v) for k, v in workload.details["storage"].items()})
    out.update(kernel_metrics(workload))
    out["trace.overhead_s"] = run.overhead_s
    out["trace.unit_s"] = statistics.median(workload.unit_s)
    return out
