"""Benchmark entry point.

    python3 perfbench/run.py --workload live_table --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up (several times; the median counts), warms up, runs a
closed loop with one client for ``--seconds``, checks every result, and
prints two JSON lines on stdout: a report with every metric of the
workload, then the result line whose ``metrics`` hold exactly the
``end_to_end`` (``--trace 0``) or ``per_layer`` (``--trace 1``) metrics
named in ``BENCHMARK.json``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from harness import (  # noqa: E402
    Hygiene, Tracer, cpu_probe_ms, median, pct, span_cost_us, stop_processes, tree_pids)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "druid_hadoop_utils_spark"
WORKLOADS = ("native_query_mix", "live_table", "corpus_pipeline")
SETUP_REPS = 3
# a run during which other processes, or the hypervisor, took this many
# cores for a 2-second window or more names itself contaminated (kernel
# housekeeping alone stays near 0.1)
CONTAMINATED_CORES = 1.0

# every end-to-end metric a workload can report, with its unit
E2E_UNITS = {
    "setup_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MiB",
    "query_p50_ms": "ms", "query_p90_ms": "ms", "ops_per_s": "ops/s",
    "commit_p50_ms": "ms", "feed_read_p50_ms": "ms", "space_amp": "ratio",
    "docs_per_s": "docs/s", "dedup_recall": "ratio", "ann_recall_at_10": "ratio",
}


class Context:
    """What a workload gets: the session, its seed and run length, the
    tracer, a scratch directory, and the set-up clock."""

    def __init__(self, spark, seed: int, seconds: float, tracer, workdir: str,
                 hygiene, session_s: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.workdir = workdir
        self.hygiene = hygiene
        self.session_s = session_s
        self.setup_reps: list[float] = []
        self.setup_s = None
        self.spare = None
        self._reps_end = None
        # host speed just before the loop and after its checks
        self.cpu_probe_ms: list[float] = []

    def setup(self, fn, keep: int = 0):
        """Run the workload's data set-up SETUP_REPS times, each into a
        fresh directory, and time each. The loop uses the last copy; with
        ``keep`` the first copy stays as ``self.spare`` for warm-up."""
        copies = []
        for i in range(SETUP_REPS):
            d = os.path.join(self.workdir, f"setup-{i}")
            t0 = time.perf_counter()
            copies.append((d, fn(self, d)))
            self.setup_reps.append(time.perf_counter() - t0)
        if keep:
            self.spare = copies[0][1]
        for d, _ in copies[keep:-1]:
            shutil.rmtree(d, ignore_errors=True)
        self._reps_end = time.perf_counter()
        return copies[-1][1]

    def drop_spare(self) -> None:
        if self.spare is not None:
            shutil.rmtree(self.spare["root"], ignore_errors=True)
            self.spare = None

    def setup_done(self) -> None:
        """Set-up time as a fresh process pays it: session start, the
        median data set-up, and the warm-up that just finished."""
        warm = time.perf_counter() - self._reps_end
        self.setup_s = self.session_s + median(self.setup_reps) + warm
        self.cpu_probe_ms.append(cpu_probe_ms())
        print(f"perfbench: session {self.session_s:.2f}s, data set-up "
              f"{', '.join(f'{x:.2f}' for x in self.setup_reps)}s, warm-up {warm:.2f}s",
              file=sys.stderr)

    def units(self, unit_s: float) -> int:
        """How many whole units of work (a query round, a maintenance
        period, a pipeline pass) the loop runs: as many as take about
        ``seconds`` at the unit's nominal duration ``unit_s`` (measured
        on 4 CPUs). A fixed count per ``--seconds`` gives every seed
        and every machine the same mix of work."""
        return max(1, round(self.seconds / unit_s))

    @staticmethod
    def p50(xs) -> float:
        return pct(xs, 50)

    @staticmethod
    def p90(xs) -> float:
        return pct(xs, 90)

    def finish(self, log, e2e: dict, mismatches: list[str], layers: dict, samples: dict) -> dict:
        self.cpu_probe_ms.append(cpu_probe_ms())
        attempted = log.attempted()
        failed = log.failed()
        e2e = dict(e2e, setup_s=self.setup_s, failed_frac=failed / max(1, attempted))
        return {"correct": not mismatches, "attempted": attempted, "failed": failed,
                "e2e": e2e, "layers": layers, "samples": samples,
                "errors": log.errors(), "mismatches": mismatches[:20],
                "ops": [[o["kind"], o.get("sub") or o.get("shape"), round(o["ms"], 1), o["ok"]]
                        for o in log.ops]}


def _spark_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    scratch directory, and size the session to this machine."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # a fixed 1 GiB heap fills during every run, so peak RSS measures the
    # run rather than when the collector last grew the heap
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then make sure the
    JVM's own children (the PySpark worker daemon and its workers) are
    gone too: once the JVM exits they are no longer ours to wait for."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        stop_processes(descendants)


def _layer_extras(tracer, report: dict) -> dict:
    """Tracing cost: spans recorded, the measured cost of one span, the
    span cost per op, and the traced run's own ``query_p50_ms`` — set it
    against an untraced run's to read the whole tracing overhead."""
    ops = sum(1 for s in tracer.spans if s["name"] == "op")
    cost = span_cost_us()
    return {
        "trace.spans": len(tracer.spans),
        "trace.span_cost_us": cost,
        "trace.overhead_ms_per_op": len(tracer.spans) / max(1, ops) * cost / 1e3,
        "trace.query_p50_ms": report["e2e"]["query_p50_ms"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    with open(bench_path) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)

    workdir = os.path.join(HERE, "out", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    _spark_env(workdir)

    import importlib

    hygiene = Hygiene().start()
    spark = None
    try:
        from druid_hadoop_utils_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("FATAL")
        tracer = Tracer(bool(args.trace))
        ctx = Context(spark, args.seed, args.seconds, tracer, workdir, hygiene,
                      time.perf_counter() - T_PROCESS)
        workload = importlib.import_module(args.workload)
        report = workload.run(ctx)
        if tracer.enabled:
            report["layers"].update(_layer_extras(tracer, report))
            spans_path = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json")
            tracer.dump(spans_path, {"workload": args.workload, "seed": args.seed,
                                     "seconds": args.seconds})
            report["spans_file"] = os.path.relpath(spans_path, ROOT)
    finally:
        hygiene.stop()
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    report["wall_s"] = time.perf_counter() - T_PROCESS
    report["hygiene"] = {"foreign_cpu_max_cores": hygiene.foreign_cores_max,
                         "steal_cpu_max_cores": hygiene.steal_cores_max,
                         "cpu_probe_ms": ctx.cpu_probe_ms,
                         "contaminated": max(hygiene.foreign_cores_max,
                                             hygiene.steal_cores_max) >= CONTAMINATED_CORES}
    report["e2e"]["peak_rss_mb"] = hygiene.peak_rss / 2**20
    report["units"] = {k: E2E_UNITS[k] for k in report["e2e"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      **report}, default=float))

    if args.trace:
        wanted, source = bench["per_layer"], report["layers"]
    else:
        wanted, source = bench["end_to_end"], report["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
