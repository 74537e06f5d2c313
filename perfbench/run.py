"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds its inputs from ``--seed``, runs the workload on
``local[nproc]`` through the public ``VectorIndex`` API, checks the
outputs, and prints a human-readable report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans and Spark counters
per operation and reports the per-layer metrics. Scratch files (index
roots, Spark local dirs, run records) go under ``.perfbench/`` in the
repository root. Every process the run starts (the Spark JVM, its
Python workers, the host probes) has ended before it exits, on every
path out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402 - standard library only


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them: the
    end-to-end metrics, or the per-layer ones for a traced run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def summary(values: list[float]) -> str:
    """Median, the highest percentile with at least ten samples beyond
    it, and the sample count."""
    values = sorted(values)
    n = len(values)
    if not n:
        return "no samples"
    text = f"median {statistics.median(values):.4f}"
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        text += f" p{p} {values[min(n - 1, int(n * p / 100))]:.4f}"
    return text + f" (n={n})"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the package from the repository root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def mean(values: list[float]) -> float:
    return statistics.mean(values) if values else 0.0


def report(workload, run, setup_s: float, setup_wall_s: float) -> dict[str, float]:
    """Print the workload's named metrics; return the end-to-end ones."""
    lines = [f"setup_s: {setup_s:.4f} CPU s (lower)",
             f"setup_wall_s: {setup_wall_s:.4f} s (lower)"]
    if workload.name == "query_mix":
        for op, walls in workload.details["batch_s_by_op"].items():
            if walls:
                lines.append(f"{op}_batch_s: {summary(walls)} s (lower)")
        for op, r in workload.details["recall_by_op"].items():
            lines.append(f"{op}_recall: {r:.4f} recall@10 (higher)")
    else:
        d = workload.details
        lines.append(f"churn_write_vps: {summary(d['write_vps'])} vectors/s (higher)")
        lines.append(f"churn_search_batch_s: {summary(d['search_s'])} s (lower)")
        lines.append(f"churn_recall: {mean(workload.recalls):.4f} recall@10 (higher)")
        lines.append(f"churn cycles {d['cycles']}, live rows {d['live_rows']}, "
                     f"vacuums {d['vacuums']}, compactions {d['compactions']}")
    lines.append(f"op_s: {summary(workload.unit_s)} s per {workload.name} unit (lower)")
    lines.append(f"op_cpu_s: {summary(workload.unit_cpu_s)} CPU s per {workload.name} unit (lower)")
    lines.append(f"recall: {mean(workload.recalls):.4f} recall@10 (higher)")
    lines.append(f"space_amp: {workload.space_amp:.4f} (lower)")
    lines.append(f"error_rate: {run.failed / max(run.attempted, 1):.4f} "
                 f"({run.failed}/{run.attempted} ops, lower)")
    print("\n".join(lines))
    return {"setup_s": setup_s, "op_cpu_s": statistics.median(workload.unit_cpu_s),
            "recall": mean(workload.recalls), "space_amp": workload.space_amp}


def op_table(run) -> list[dict]:
    """Per-op medians and totals over the timed operations."""
    from perfbench.tracing import SPARK_COUNTERS

    rows = []
    timed = [o for o in run.ops if o["phase"] == "timed"]
    for name in dict.fromkeys(o["op"] for o in timed):
        ops = [o for o in timed if o["op"] == name]
        row = {"op": name, "n": len(ops),
               "wall_s": statistics.median(o["wall_s"] for o in ops),
               "cpu_s": statistics.median(o["cpu_s"] for o in ops)}
        for key in ("construct_s", "action_s"):
            if key in ops[0]:
                row[key] = statistics.median(o[key] for o in ops)
        for c in SPARK_COUNTERS:
            row[c] = sum(o.get(c, 0) for o in ops) / len(ops)
        row["parallelism"] = row["executor_run_s"] / (row["wall_s"] * run.cores)
        rows.append(row)
    for row in rows:
        print("op " + " ".join(
            f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in row.items()
        ))
    return rows


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment()
    try:
        import pyspark  # noqa: F401
        import vectorsearch_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS, Runner, layer_metrics
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    record = {"args": vars(args), "env": host.environment(ROOT),
              "effective_cores_before": host.effective_cores()}
    from vectorsearch_spark.session import get_spark

    t0, c0 = time.perf_counter(), host.tree_cpu_s()
    spark = get_spark(app_name="perfbench", cpus=host.nproc())
    record["session_s"] = time.perf_counter() - t0
    try:
        run = Runner(spark, bool(args.trace))
        workload = WORKLOADS[args.workload](spark, run, args.seed, os.path.join(WORK, "indexes"))
        timed_start, timed_start_cpu = workload.execute(args.seconds)
        record["setup_wall_s"] = timed_start - t0
        metrics = report(workload, run, timed_start_cpu - c0, record["setup_wall_s"])
        if args.trace:
            record["ops_summary"] = op_table(run)
            metrics = layer_metrics(run, workload)
    finally:
        spark.stop()
        # spark.stop() leaves the JVM (and its Python workers) running
        record["left_running"] = host.stop_descendants()
    if record["left_running"]:
        print(f"perfbench: processes {record['left_running']} would not end",
              file=sys.stderr)
        return 4
    record["effective_cores_after"] = host.effective_cores()
    print(f"host: {json.dumps(record['env'])} effective cores "
          f"{record['effective_cores_before']:.2f} before, "
          f"{record['effective_cores_after']:.2f} after")

    units = declared_units(bool(args.trace))
    if set(units) != set(metrics):
        print(f"perfbench: measured metrics {sorted(set(metrics) ^ set(units))} "
              "disagree with BENCHMARK.json", file=sys.stderr)
        return 3
    record.update(ops=run.ops, problems=run.problems, details=workload.details, metrics=metrics)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        run.tracer.write(stem + "-spans.json")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, default=float)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def run(argv=None) -> int:
    """``main``, then end whatever it left running, also when it fails
    or the run is terminated."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return main(argv)
    finally:
        left = host.stop_descendants()
        if left:
            print(f"perfbench: processes {left} would not end", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(run())
