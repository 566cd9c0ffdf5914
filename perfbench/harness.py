"""What every workload run shares: the Spark session, the op counters,
one timed query call, the oracle check and the small statistics."""

from __future__ import annotations

import hashlib
import os
import sys
import threading
import time

from datagen import write_tables
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "distributed_file_system_with_stream_processing_spark"

NO_TRACE = Tracer(False)
# a non-curation query that warms the JIT during set-up
WARMUP = "q6_forecast_revenue"


def pct(xs: list[float], p: float) -> float:
    """Linear-interpolated p-th percentile."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return fh.read().strip()


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, summed
    over cores: its growth during a run explains a slow outlier."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def tree_cpu_s() -> float:
    """User + system CPU time of this process and all its descendants (the
    driver Python, the JVM, the Python workers), including exited
    children their parents have reaped. Time the hypervisor steals and
    time other processes run are not in it."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        # fields after the parenthesised command: state, ppid, ...,
        # utime, stime, cutime, cstime at 11-14
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        kids.setdefault(int(rest[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def source_sha() -> str:
    """Content hash of the package sources: the checkout need not be a
    git repository, and this names the code under test either way."""
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


class Bench:
    """One workload run: the session, the work dir, the attempted/failed
    counters and the numbers collected for the report."""

    def __init__(self, args):
        self.args = args
        self.cores = args.cores or len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        # name -> (value, unit, sample count or None): every printed number
        self.report: dict[str, tuple[float, str, int | None]] = {}
        self.layer: dict[str, float] = {}  # per-layer metrics (traced run)
        self.extra: dict = {}  # per-stage records, rate sweep (traced run)
        self.marks: list[tuple[str, float]] = []  # (phase, time it ended)
        self._n = 0
        self._lock = threading.Lock()

    def mark(self, phase: str) -> None:
        """Note the end of a phase of the run, for the printed timeline."""
        self.marks.append((phase, time.time()))

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # every scratch file of Spark, the JVM and Python stays in the work dir
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # Python workers (UDFs, the tablestore DataSource) import the package too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
        )
        import tempfile

        tempfile.tempdir = None
        sys.path.insert(0, ROOT)
        from pyspark.sql import functions as F

        from distributed_file_system_with_stream_processing_spark.plans.registry import (
            ORACLES,
            QUERIES,
        )
        from distributed_file_system_with_stream_processing_spark.session import get_spark

        self.F, self.QUERIES, self.ORACLES = F, QUERIES, ORACLES
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm = self.sc._gateway.proc
        self._threads = self.sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        self.spark.stop()
        self.sc._gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)

    def heap_retained(self) -> None:
        """Report the JVM heap still in use after full collections: what
        the run's caches, broadcasts and streaming state hold on to. Taken
        once per run, outside the timed windows, while the workload's
        session state is still live."""
        import gc

        # Python's handles on dead DataFrames pin their JVM plans until the
        # cyclic collector runs
        gc.collect()
        jvm = self.sc._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[float] = []
        # each collection lets Spark's ContextCleaner drop the blocks of dead
        # broadcasts and shuffles, which a later one frees: collect until
        # three readings in a row agree
        while len(used) < 12 and not (len(used) >= 3 and used[-3] - used[-1] < 2.0):
            jvm.java.lang.System.gc()
            used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.5)
        self.report["heap_retained_mb"] = (used[-1], "MB", None)

    def jvm_alloc_mb(self) -> float:
        """Heap the JVM has allocated since it started, over all threads."""
        return self._threads.getTotalThreadAllocatedBytes() / 2**20

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver Python, JVM) peak resident memory."""
        return vm_hwm_mb(os.getpid()), vm_hwm_mb(self.jvm.pid)

    # -- ops --------------------------------------------------------------

    def op_id(self, kind: str) -> str:
        with self._lock:
            self._n += 1
            return f"{kind}-{self._n}"

    def attempt(self, fn, *a):
        """Run one operation; an error counts as failed and returns None."""
        with self._lock:
            self.attempted += 1
        try:
            return fn(*a)
        except Exception as e:  # noqa: BLE001 — every failure is counted
            with self._lock:
                self.failed += 1
            print(f"# failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            return None

    def query(self, name: str, sf_dir: str, tracer: Tracer, collect: bool = False):
        """Call a query function and complete its action, under a job group
        named by the op id. Returns (seconds, columns, rows or None, sample)
        where ``sample`` holds the traced run's per-query layer numbers."""
        rid = self.op_id(name)
        self.sc.setJobGroup(rid, name)
        sample: dict = {"group": rid}
        t = time.perf_counter()
        with tracer.span("plans.build", rid):
            df = self.QUERIES[name](self.spark, sf_dir)
        sample["build_s"] = time.perf_counter() - t
        if tracer.enabled:
            # jobs the query function ran before its action
            sample["eager_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rid))
            with tracer.span("spark.plan", rid):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            phases = qe.tracker().phases()
            sample["catalyst_s"] = sum(
                phases.get(p).get().durationMs() / 1e3
                for p in ("analysis", "optimization", "planning")
                if phases.get(p).isDefined()
            )
        rows = None
        with tracer.span("spark.action", rid):
            if collect:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t, df.columns, rows, sample

    # -- inputs and correctness -------------------------------------------

    def stage_tables(self, sf: float) -> str:
        """The set-up of a query workload: write the seeded tables, then
        run the warm-up query on them."""
        d = os.path.join(self.work, "tables")
        write_tables(d, sf, self.args.seed)
        self.query(WARMUP, d, NO_TRACE)
        return d

    def check_oracle(self, name: str, sf_dir: str, cols, rows, con) -> None:
        """The order-insensitive, float-rounded comparison with DuckDB that
        the repo's oracle tests use."""
        from tests.oracle_compare import _norm_rows, register_duck_views

        register_duck_views(con, sf_dir)
        res = con.execute(self.ORACLES[name])
        d_cols = [d[0] for d in res.description]
        ok = sorted(cols) == sorted(d_cols) and _norm_rows(
            cols, [tuple(r) for r in rows]
        ) == _norm_rows(d_cols, res.fetchall())
        if not ok:
            self.mismatches.append(f"oracle {name}")
