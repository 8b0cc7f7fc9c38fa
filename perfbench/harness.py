"""Shared state of one benchmark run: the session, the tracer, the checker
and the ops counted towards ``attempted``/``failed``."""

from __future__ import annotations

import os
import statistics
import subprocess
import time

from checks import Checker
from tracing import Tracer

def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the Spark JVM and its Python workers), reaped children included.
    Unlike wall time it does not grow while the host steals the virtual
    CPUs: the kernel leaves steal out of task CPU time."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we listed /proc
                continue
            # after the command: state ppid ... utime(11) stime cutime cstime
            stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree: set[int] = set()
    new = {os.getpid()}
    while new:
        tree |= new
        new = {pid for pid, (ppid, _) in stats.items() if ppid in tree} - tree
    return sum(stats[p][1] for p in tree if p in stats) * _TICK_S


class Bench:
    """What one run shares across its phases: arguments, scratch directory,
    the live session, the tracer and the correctness checker."""

    def __init__(self, args, scratch: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.scratch = scratch
        self.tracer = Tracer(bool(args.trace))
        self.check = Checker()
        self.spark = None
        self.session_s = 0.0
        self.session_cpu_s = 0.0
        self.cores = max(1, min(4, os.cpu_count() or 1))
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict[str, float | str] = {}
        self.attempted = 0
        self.failed: set[int] = set()  # ids of ops that raised or answered wrong
        self.errors: list[str] = []

    def start_session(self) -> None:
        """Start the Spark session (timed as ``session_s`` and
        ``session_cpu_s``) and ship the package to the workers, which direct
        operator calls need as much as registry queries do."""
        from vectordb_similarity_search_spark.session import (
            ensure_package_on_executors,
            get_spark,
        )

        c0, t0 = cpu_s(), time.perf_counter()
        with self.tracer.span("session.start", op="setup"):
            self.spark = get_spark(
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "2g",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            ensure_package_on_executors(self.spark)
        self.session_s = time.perf_counter() - t0
        self.session_cpu_s = cpu_s() - c0
        self.tracer.attach(self.spark)

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_heap_mb(self) -> float:
        """Heap the JVM still holds after a full GC: what the session's
        caches, broadcasts and persisted frames retain."""
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(3):  # the least of three: a transient survivor is not retained
            jvm.java.lang.System.gc()
            used.append(mx.getHeapMemoryUsage().getUsed())
        return min(used) / 2**20

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def op(self, kind: str, fn, *args) -> tuple[int, object, float, float]:
        """Run one timed operation; returns (op id, result, wall seconds,
        CPU seconds). An exception marks the op failed and yields ``None``."""
        op_id = self.attempted
        self.attempted += 1
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # an op failure is a result, not a crash
            self.failed.add(op_id)
            if len(self.errors) < 10:
                self.errors.append(f"{kind}#{op_id} raised {e!r:.200}")
            out = None
        return op_id, out, time.perf_counter() - t0, cpu_s() - c0

    def setup_metrics(self, wall: list[float], cpu: list[float]) -> None:
        """``setup_s``: CPU seconds of the session start plus the median
        set-up; ``wall.setup_s`` is the same in wall time."""
        self.e2e["setup_s"] = self.session_cpu_s + median(cpu)
        self.layer["wall.setup_s"] = self.session_s + median(wall)
        self.info["setup_reps_s"] = " ".join(f"{x:.2f}" for x in wall)

    def verify(self, op_id: int, site: str, kind: str, *args) -> bool:
        """Run one check for an op; a failed check marks the op failed."""
        ok = self.check(site, kind, *args)
        if not ok:
            self.failed.add(op_id)
        return ok
