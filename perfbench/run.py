"""Methylation-pipeline benchmark.

    python3 perfbench/run.py --workload dm_downstream --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process starts Spark on
``local[<cores / 2>]``, generates a seeded fixture, prepares the workload and
then runs one closed-loop client that repeats the workload's op back to
back for ``--seconds`` (at least one op). The first op is timed too,
first-use costs included. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones. Everything the run writes
goes under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"
TRACED_SPANS = (
    "sources.read_idat_files",
    "plans.from_idata",
    "plans.run_pipeline.cold",
    "plans.run_pipeline.warm",
    "plans.run_pipeline.param",
    "quality_control.betas_stats",
    "dm.compute_dmp",
    "dm.compute_dmr",
    "dm.get_top_dm",
    "cnv.cnv_pipeline",
    "ml.pca",
)


def pin_environment(work: str) -> int:
    """Launch settings the benchmark fixes instead of inheriting: cores,
    driver heap, the package on the Python workers' path and a scratch
    directory for Spark's local files. Returns the core count.

    Spark gets half the CPUs the process may use: the driver thread, the
    JIT compiler, GC and the Python workers need the other half."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_MASTER", None)
    sys.path[:0] = [ROOT, HERE]
    return cores


def start_spark(work: str, cores: int):
    from pylluminator_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Python driver plus the driver JVM."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    driver JVM and its Python workers, with reaped children included.
    Unlike wall time, this does not grow when another tenant of the machine
    takes the CPU."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while the list was read
        # fields from 'state' on: ppid, then utime, stime, cutime, cstime
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {pid for pid, ppid in parent.items() if ppid in frontier} - tree
    return sum(ticks.get(pid, 0) for pid in tree) / os.sysconf("SC_CLK_TCK")


class Client:
    """One closed-loop client: runs an op, checks it, records the outcome."""

    def __init__(self, workload, tracer):
        self.workload = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.results: list[dict] = []

    def run_op(self) -> None:
        self.attempted += 1
        try:
            cpu0 = tree_cpu_s()
            result = self.workload.op(self.tracer)
            result["cpu_s"] = tree_cpu_s() - cpu0
            self.tracer.collect()
            self.workload.check(result)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return
        finally:
            self.workload.spark.catalog.clearCache()
        self.results.append(result)


def run(spark, name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Set up ``name``, run the loop and return the result object."""
    from spans import Tracer

    from workloads import WORKLOADS, median

    cls, n_probes, n_samples = WORKLOADS[name]
    t0 = time.perf_counter()
    workload = cls(spark, os.path.join(work, name), seed, n_probes, n_samples)
    client = Client(workload, Tracer(spark, enabled=trace))
    setup_s = time.perf_counter() - t0

    start = time.perf_counter()
    while not client.attempted or time.perf_counter() - start < seconds:
        client.run_op()

    ok = client.results
    named = {
        key: {"value": value, "unit": unit}
        for key, (value, unit) in (workload.metrics(ok) if ok else {}).items()
    }
    named["op_s"] = {"value": median(r["s"] for r in ok), "unit": "s"}
    if trace:
        found = named | layer_metrics(client.tracer, max(len(ok), 1))
        found["fail_ratio"] = {"value": client.failed / client.attempted, "unit": "ratio"}
        found["peak_rss_mb"] = {"value": peak_rss_mb(spark), "unit": "MB"}
        # a layer this workload never reaches reads 0
        metrics = {
            key: found.get(key, {"value": 0.0, "unit": unit}) for key, unit in per_layer_names()
        }
    else:
        print(json.dumps({"workload": name, "named": named}), file=sys.stderr)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_cpu_s": {"value": median(r["cpu_s"] for r in ok), "unit": "s"},
        }
    return {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": metrics,
    }


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in ``BENCHMARK.json`` order."""
    from spans import ENGINE_METRICS, SPAN_METRICS

    from workloads import WORKLOADS

    names = [(f"{span}.{m}", unit) for span in TRACED_SPANS for m, unit in SPAN_METRICS]
    names += [(f"engine.{m}", unit) for m, unit in ENGINE_METRICS]
    names += [("trace.overhead_s", "s"), ("fail_ratio", "ratio"), ("peak_rss_mb", "MB"), ("op_s", "s")]
    for cls, _probes, _samples in WORKLOADS.values():
        names += list(cls.METRICS)
    return names


def layer_metrics(tracer, n_ops: int) -> dict:
    """Per span: the median call of each span metric; per op: engine totals
    and the tracer's own time."""
    from spans import ENGINE_METRICS, SPAN_METRICS

    from workloads import median

    out = {}
    for name in TRACED_SPANS:
        spans = [s for s in tracer.spans if s.name == name]
        if spans:
            for metric, unit in SPAN_METRICS:
                out[f"{name}.{metric}"] = {"value": median(getattr(s, metric) for s in spans), "unit": unit}
    for metric, unit in ENGINE_METRICS:
        total = sum(getattr(s, metric) for s in tracer.spans)
        out[f"engine.{metric}"] = {"value": total / n_ops, "unit": unit}
    out["trace.overhead_s"] = {"value": tracer.overhead_s / n_ops, "unit": "s"}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pylluminator_spark")):
        print(f"no pylluminator_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        t0 = time.perf_counter()
        cores = pin_environment(work)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        try:
            result = run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work)
        finally:
            stop_spark(spark)
        if not args.trace:
            result["metrics"]["setup_s"]["value"] += session_s
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
