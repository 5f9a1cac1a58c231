"""Repository benchmark: resolve and incremental-assign workloads, measured
end to end and, in a traced run, per stage, operator and kernel.

    python3 perfbench/run.py --workload small_resolve --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts one ``local[nproc]``
SparkSession, builds a seeded corpus, runs the workload for ``--seconds``,
checks every output and prints one metric per line, then, as the last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). BENCHMARK.json lists the workloads and
metrics and says why each was chosen. ``--workload all`` runs every
workload in one session and prints one JSON line per workload.

Everything it writes (corpus tables, Spark scratch space, the trace, the
digest book) goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM_CAP_MB = 2048

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
    "assign_accuracy": "ratio",
    "setup_s": "s",
}


class Context:
    def __init__(self, args, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.work_dir = WORK
        self.digest_path = os.path.join(WORK, "digests.json")


def _configure_env() -> None:
    """Size Spark to the host through the variables ``session.get_spark``
    reads, and keep every scratch file inside the work directory. Must run
    before pyspark starts its JVM."""
    from host import host_cpus, host_ram_bytes

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    mem_mb = min(DRIVER_MEM_CAP_MB, host_ram_bytes() // 2**20 // 4)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "{java_opts}" '
            f'--conf "spark.executor.extraJavaOptions={java_opts}" pyspark-shell'
        ),
    )


def _stop(spark) -> None:
    """Stop Spark, its JVM and every process they started; wait for each."""
    from host import descendants

    started = [p for p in descendants() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + 15
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def _tail(samples: list[float]) -> str:
    """Median with sample count, plus the highest of p90/p99/p99.9 that has
    at least ten samples beyond it."""
    n = len(samples)
    text = f"n={n}"
    for p in (99.9, 99.0, 90.0):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(samples, n=1000, method="inclusive")
            text += f" p{p:g}={q[int(p * 10) - 1]:.4f}"
            break
    else:
        text += " (no percentile above p50 has 10 samples beyond it)"
    return text


def end_to_end(outcome) -> tuple[dict[str, float], dict[str, str]]:
    units = outcome.units
    med = statistics.median
    lat = [x for u in units for x in u.batch_latencies]
    walls = [u.wall_s for u in units]
    values = {
        "wall_s": med(walls),
        "docs_per_s": med([u.docs / u.wall_s for u in units]),
        "batch_latency_p50_s": med(lat),
        "cpu_s": med([u.cpu_s for u in units]),
        "peak_rss_mb": med([u.peak_rss_mb for u in units]),
        "pairwise_f1": med([u.pairwise_f1 for u in units]),
        "assign_accuracy": med([u.assign_accuracy for u in units]),
        "setup_s": outcome.setup_s,
    }
    spread = {
        "wall_s": _tail(walls),
        "batch_latency_p50_s": _tail(lat),
        "setup_s": "n=1 (one set-up per process)",
    }
    return values, spread


def per_layer(outcome, session_s: float) -> dict[str, float]:
    rows = outcome.layers
    values = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    values["session.start_s"] = session_s
    values.update(outcome.run_layers)
    return values


def _unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_us_per_pair", "_us_per_doc")):
        return "us"
    if name.endswith(("_share", "_yield", "per_doc")):
        return "ratio"
    return "count"


def _report(workload: str, args, outcome, metrics, notes) -> dict:
    print(f"== {workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for line in notes:
        print(f"   {line}")
    for name, value in metrics.items():
        print(f"{name:<58} {value:>14.6g} {_unit(name)}")
    for i, table in enumerate(outcome.tables):
        print(f"-- traced unit {i}: layer, calls, wall s, self s, own jobs")
        for name, calls, wall, self_s, jobs in table:
            print(f"   {name:<52} {calls:>4} {wall:>9.3f} {self_s:>9.3f} {jobs:>5}")
    return {
        "correct": outcome.failed == 0 and outcome.attempted > 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gpu_entity_resolver_spark")):
        print(f"no gpu_entity_resolver_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}; have {list(WORKLOADS)}", file=sys.stderr)
        return 2

    _configure_env()
    sys.path.append(ROOT)
    import host
    import spans
    from gpu_entity_resolver_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    results = []
    try:
        for name in names:
            args.workload = name
            tracer = spans.Tracer(spark.sparkContext) if args.trace else None
            outcome = WORKLOADS[name].run(spark, Context(args, tracer))
            if not outcome.units or (args.trace and not outcome.layers):
                results.append(_report(name, args, outcome, {}, ["no unit completed"]))
                continue
            if name == names[0]:
                outcome.setup_s += session_s
            notes = [f"host: {json.dumps(host.context(spark))}"]
            if args.trace:
                metrics = per_layer(outcome, session_s)
                notes.append(f"kernel items timed: {json.dumps(outcome.kernel_items)}")
                tracer.write(os.path.join(WORK, f"trace-{name}-{args.seed}.json"))
            else:
                metrics, spread = end_to_end(outcome)
                notes += [f"{k}: {v}" for k, v in spread.items()]
            results.append(_report(name, args, outcome, metrics, notes))
    finally:
        _stop(spark)
    for res in results:
        print(json.dumps(res))
    return 0 if all(r["metrics"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
