"""Layered end-to-end benchmark of grapho_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload loops_vectors --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md): ``loops_vectors``
calls registry queries through ``spark_fn(spark, sf_dir)`` plus a sink
that computes every column; ``gql_oltp`` sends a GQL statement stream to
``GQLServer`` over TCP.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and per-operation Spark counters and prints the
per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every failed
operation is printed to stderr and counted in ``failed``; all but GQL
reads that return other rows than the client's model (counted, see
README.md) also make the run incorrect and exit 1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
WORK_DIR = os.path.join(HERE, "_work")
TRACE_DIR = os.path.join(HERE, "traces")
SETUP_REPEATS = 3
GC_MAX_ROUNDS = 16

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _ident(batches):
    yield from batches


class Context:
    """Run settings plus the session lifecycle every workload shares."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sf_dir = SF_DIR
        self.work_dir = WORK_DIR
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.memory_mb: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def note(self, what: str) -> None:
        """A progress line on stderr with the time since the run began."""
        print(f"perfbench: {time.perf_counter() - self._t0:7.2f}s {what}", file=sys.stderr, flush=True)

    def start_session(self, python_workers: bool):
        """Session start plus warm-up of the JVM, parquet reads and, for
        a workload that uses them, the Python worker pool; returns
        (spark, start_s, setup_s)."""
        from grapho_spark.session import get_spark
        from grapho_spark.tables import load_table

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        load_table(spark, self.sf_dir, "region").count()
        if python_workers:
            spark.range(8, numPartitions=1).mapInPandas(_ident, "id long").count()
        return spark, t1 - t0, time.perf_counter() - t0

    def setup_sessions(self, python_workers: bool):
        """Start the session SETUP_REPEATS times, stopping the previous
        one each time; returns the last session and the medians."""
        starts, setups = [], []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            self.spark, start_s, setup_s = self.start_session(python_workers)
            starts.append(start_s)
            setups.append(setup_s)
            self.note(f"session started in {start_s:.2f}s, set up in {setup_s:.2f}s")
        return self.spark, {"start_s": statistics.median(starts), "setup_s": statistics.median(setups)}

    def make_tracer(self, spark):
        if not self.trace:
            return None
        from spans import Tracer

        return Tracer(spark)

    def finish(self) -> float:
        """Stop Spark and its JVM, wait for the JVM to exit, and return
        the memory the session retains, in MB: this process's RSS plus
        the JVM's live heap after a full GC. Peak RSS of both processes
        goes to the report only: the JVM's peak follows how far the
        collector let the heap grow, which differs from run to run."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        jvm = SparkContext._jvm
        # Drop this process's py4j handles first, so the JVM objects
        # they pin become garbage; each further JVM collection frees what
        # Spark's ContextCleaner released, on its own thread and after a
        # varying delay, since the one before. Collect until the live
        # heap has held still over two waits.
        memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap: list[float] = []
        while len(heap) < GC_MAX_ROUNDS:
            gc.collect()
            jvm.java.lang.System.gc()
            heap.append(memory.getHeapMemoryUsage().getUsed() / 2**20)
            if len(heap) >= 3 and max(heap[-3:]) - min(heap[-3:]) < 1.0:
                break
            time.sleep(0.5)
        heap_mb = heap[-1]
        python_mb = _status_kb(os.getpid(), "VmRSS") / 1024.0
        self.memory_mb = {
            "python_peak": _status_kb(os.getpid(), "VmHWM") / 1024.0,
            "jvm_peak": _status_kb(proc.pid, "VmHWM") / 1024.0,
            "python_rss": python_mb,
            "jvm_live_heap": heap_mb,
        }
        retained = python_mb + heap_mb
        self.stop()
        return retained

    def stop(self) -> None:
        """Stop the session, shut the gateway JVM down and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            proc.wait(timeout=60)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over cores: a run that overlaps a steal episode reads slow."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} for pid {pid}")


def pin_environment(cores: int) -> None:
    """Settings the run depends on, fixed here rather than in the program."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    path = os.environ.get("PYTHONPATH")
    # Spark's Python workers import grapho_spark (Python data sources).
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    # Scratch files stay inside the checkout: the program's (tempfile),
    # the JVM's (native libraries it unpacks) and no JVM perf-data file.
    tmp = os.path.join(WORK_DIR, "tmp")
    os.environ["TMPDIR"] = tmp
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.makedirs(os.environ["TMPDIR"])
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("loops_vectors", "gql_oltp"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p
        for p in [os.path.join(ROOT, "grapho_spark", "__init__.py")]
        + [os.path.join(SF_DIR, f"{t}.parquet") for t in FIXTURE_TABLES]
        if not os.path.isfile(p)
    ]
    if missing:
        print(f"perfbench: not a grapho_spark checkout, missing {missing}", file=sys.stderr)
        return 2

    # A run stopped from outside still stops its JVM (the finally below).
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ctx = Context(args)
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    pin_environment(ctx.cores)
    try:
        if args.workload == "gql_oltp":
            import gqlmix as workload
        else:
            import registry as workload
        steal0 = host_steal_s()
        out = workload.run(ctx)
        out["report"]["host_steal_s"] = host_steal_s() - steal0
    finally:
        ctx.stop()
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if ctx.trace else "end_to_end"]}
    values = out["layers"] if ctx.trace else out["e2e"]
    if ctx.trace:
        values.update(dict.fromkeys(workload.LAYERS_NOT_EXERCISED, 0.0))
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in declared.items()}
    report = dict(out["report"], workload=args.workload, seed=args.seed, metrics=metrics)
    if ctx.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    report["memory_mb"] = ctx.memory_mb
    summary = {k: v for k, v in report.items() if k not in ("spans", "ops", "self_times", "metrics")}
    print(f"# {args.workload} seed={args.seed} " + json.dumps(summary, default=str))
    correct = out["failed"] == out.get("wrong_reads", 0)
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
