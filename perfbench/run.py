"""End-to-end benchmark of the commissions engine.

    python3 perfbench/run.py --workload proposal_build --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, runs the workload's
phases through the engine's public entry points (each batch operation
once; report serving for at least ``--seconds`` seconds), checks every
output against the engine's DuckDB oracles (outside the timed
regions), and prints a summary followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics (CPU seconds; the wall-clock ones are
printed in the summary), ``--trace 1`` the per-layer metrics of a
traced run.  ``--write-manifest`` rewrites BENCHMARK.json.

Everything the run writes goes under ``.perfbench/`` in the checkout
root and is removed at exit, except the span file of a traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import proc  # noqa: E402
from spans import Tracer  # noqa: E402

#: pinned host settings, applied through the environment variables the
#: engine's ``session.get_spark`` already reads.  10g puts the session
#: on the engine's big-heap path (caching._big_heap: >= 8 GiB max heap)
#: while staying well inside a 15 GB host; the data is far smaller.
#: The initial heap is set to the same size: a growing heap made the
#: garbage collector's CPU time differ up to eightfold between runs.
DRIVER_MEM = "10g"

#: the JVM counts as idle when it uses less than this much CPU in a
#: window (an idle session uses ~0.003 s per second; background JIT
#: compilation keeps one or more cores busy)
SETTLE_WINDOW_S = 0.5
SETTLE_IDLE_CPU_S = 0.05
SETTLE_LIMIT_S = 30.0


def host_env(work: str) -> dict[str, str]:
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


class Bench:
    """One benchmark run: workspace, host pinning, the Spark session,
    the tracer and the results the workload records."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.work = os.path.join(ROOT, ".perfbench", self.run_id)
        os.makedirs(self.work, exist_ok=True)
        os.environ.update(host_env(self.work))
        self.tracer = Tracer(trace, self.run_id)
        self.spark = None
        self.host = ""
        self.session_init_s = 0.0
        #: set-up in CPU seconds (the gated ``setup_s``) and wall seconds
        self.setup_s = 0.0
        self.setup_wall_s = 0.0
        #: (operation, wall seconds, CPU seconds, host steal seconds on
        #: all CPUs) of each measured operation
        self.ops: list[tuple[str, float, float, float]] = []
        self.peak_rss_mb = 0.0
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- session ----------------------------------------------------------

    def _start_session(self):
        from apl_commissions_etl_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(extra_conf=conf)
        self.tracer.bind(self.spark)
        jvm = self.spark.sparkContext._jvm
        self.host = (
            f"host: {os.environ['SPARK_GRAFT_CPUS']} cpus, JVM heap "
            f"{os.environ['SPARK_DRIVER_MEM']}, Spark {self.spark.version}, Java "
            f"{jvm.System.getProperty('java.version')}, Python {sys.version.split()[0]}"
        )

    def start(self) -> None:
        """Start the session; its start-up counts in ``setup_s``."""
        with self.setting_up():
            t0 = time.perf_counter()
            self._start_session()
            self.session_init_s = time.perf_counter() - t0

    @contextlib.contextmanager
    def setting_up(self):
        """Count a block of workload set-up or warm-up into ``setup_s``
        (CPU seconds, until the JVM is idle) and ``setup_wall_s``."""
        c0, t0 = proc.cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.setup_wall_s += time.perf_counter() - t0
            self.settle()
            self.setup_s += proc.cpu_s() - c0

    @contextlib.contextmanager
    def measured(self, op: str):
        """Time one measured operation: wall seconds until it returns,
        CPU seconds until the JVM is idle again."""
        c0, s0, t0 = proc.cpu_s(), proc.steal_s(), time.perf_counter()
        yield
        wall, steal = time.perf_counter() - t0, proc.steal_s() - s0
        self.settle()
        self.ops.append((op, wall, proc.cpu_s() - c0, steal))

    def settle(self) -> None:
        """Wait until the JVM has been idle for ``SETTLE_WINDOW_S``: the
        JIT compilation and garbage collection a block set off in the
        background have finished, so their CPU time counts to it and
        not to the next block."""
        if self.spark is None:
            return
        deadline = time.perf_counter() + SETTLE_LIMIT_S
        last = proc.cpu_s()
        while time.perf_counter() < deadline:
            time.sleep(SETTLE_WINDOW_S)
            now = proc.cpu_s()
            if now - last < SETTLE_IDLE_CPU_S:
                return
            last = now

    def fresh(self) -> None:
        """Drop every engine session cache and checkpoint, so the next
        batch operation pays for each cache it fills."""
        reset_engine_caches(self.spark)

    def record_check(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(problems)}")
        return not problems

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def reset_engine_caches(spark) -> None:
    """Empty the engine's module-level session caches (the
    ``SessionCache`` maps plus the table-handle and view-registration
    maps), unpersist every cached frame and checkpoint, and drop the
    temp views, so that nothing built by an earlier operation is read
    by the next one."""
    from apl_commissions_etl_spark import caching
    from apl_commissions_etl_spark.sources import testdata

    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("apl_commissions_etl_spark"):
            continue
        for value in list(vars(mod).values()):
            if isinstance(value, caching.SessionCache):
                value.clear()
                value._locks.clear()
    for m in (testdata._TABLE_FRAMES, testdata._SPLIT_COUNTS,
              testdata._VIEW_REGISTRY, testdata._REGISTERED_EVENTS):
        m.clear()
    caching._TRACKED.clear()
    if spark is None:
        return
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(metrics.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-manifest", action="store_true",
                   help="rewrite BENCHMARK.json from perfbench/metrics.py and exit")
    args = p.parse_args(argv)
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(metrics.manifest(), f, indent=2)
            f.write("\n")
        return 0
    if not args.workload:
        p.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "apl_commissions_etl_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = workloads.RUNNERS[args.workload](b)
    finally:
        try:
            b.close()
        finally:
            shutil.rmtree(b.work, ignore_errors=True)
    if b.trace:
        b.tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{b.run_id}.jsonl"))

    for line in b.problems:
        print("CHECK FAILED", line)
    print(f"workload {args.workload} seed {args.seed}: "
          f"input generation {b.gen_s:.3f} s (not in setup_s), "
          f"session start {b.session_init_s:.3f} s, "
          f"set-up in all {b.setup_wall_s:.3f} s wall, {b.setup_s:.3f} s CPU")
    print(b.host)
    for op, wall, cpu, steal in b.ops:
        print(f"measured {op}: {wall:.3f} s wall, {cpu:.3f} s CPU "
              f"(host steal {steal:.2f} s over {os.environ['SPARK_GRAFT_CPUS']} cpus)")
    for note in result.get("notes", []):
        print(note)
    print("wall-clock metrics (printed, not gated):")
    for name, (v, unit) in result["wall"].items():
        print(f"  {name:55s} {v:16.6f} {unit}")
    print(f"  {'peak_rss_mb':55s} {b.peak_rss_mb:16.6f} MB")
    print(f"  {'error_rate':55s} {b.failed / max(b.attempted, 1):16.6f} "
          f"({b.failed} failed of {b.attempted} checked operations)")
    print("gated metrics (CPU seconds):" if not b.trace else "per-layer metrics:")
    chosen = metrics.per_layer(args.workload) if b.trace else metrics.END_TO_END
    values = result["per_layer"] if b.trace else result["end_to_end"]
    if b.trace:
        values["engine.peak_rss_mb"] = b.peak_rss_mb
    undeclared = sorted(set(values) - {name for name, *_ in chosen})
    if undeclared:
        print(f"undeclared metrics: {undeclared}", file=sys.stderr)
        return 3
    out = {}
    for name, unit, *_ in chosen:
        v = float(values.get(name, 0.0))
        out[name] = {"value": v, "unit": unit}
        print(f"  {name:55s} {v:16.6f} {unit}")
    print(json.dumps({
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": max(b.attempted, 1),
        "failed": b.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
