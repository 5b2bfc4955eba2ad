"""Launch, clean-up and tracing shared by the benchmark's workloads.

``Harness`` owns a run's work directory inside the checkout and its
SparkSession and JVM.  It is a context manager; leaving it stops the
JVM, with its Python workers, and waits for it.  (The Sheets workload
owns its fake server process the same way.)

``Tracer`` records spans in memory (name, layer, operation id, parent,
start, end on the ``time.perf_counter`` clock); they are written to a
file only when the run ends.  The module's functions read Spark's own
status store, which is populated with the UI off, and ``timed_passes``
runs the timed part of every workload.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Where runs keep their work files (removed at exit) and trace files.
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

MB = 1024.0 * 1024.0
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result."""
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def host_steal() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs since boot, from /proc/stat.
    On a shared virtual machine the host's other tenants show up as
    stolen time; runs are only comparable when it is small."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class StealClock:
    """Times one window: ``wall`` seconds; ``steal``, the share of the
    CPU time the machine's CPUs wanted over the window that the host
    gave to other tenants; and ``net`` = wall * (1 - steal), the wall
    time of CPU-bound work on an unshared machine.  The end-to-end
    metrics are net times: on a shared 4-vCPU VM, 5-35% steal moved the
    raw wall time of identical runs by up to 60%."""

    def __enter__(self) -> "StealClock":
        self._busy, self._stolen = host_steal()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.perf_counter()
        busy, stolen = host_steal()
        busy -= self._busy
        stolen -= self._stolen
        self.wall = self.t1 - self.t0
        self.steal = stolen / max(1, busy + stolen)
        self.net = self.wall * (1.0 - self.steal)


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the box's memory, at most 2 GiB: the inputs are a
    few MB, and ``get_spark``'s 16g default exceeds small boxes."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(2048, total_kb // 1024 // 4)


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Harness:
    """One benchmark run's resources and its environment report."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = ncpus()
        self.driver_mb = driver_memory_mb()
        self.work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.spark = None
        self._jvm_proc = None
        self.tracer = Tracer()
        self.jvm_hwm_mb = 0.0

    def __enter__(self) -> "Harness":
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("data", "tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, sub))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # Overrides spark.local.dir when set, so it must point here too.
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # Spark's Python workers are started by the JVM and inherit this
        # environment: without the checkout on their path they cannot
        # import the engine's UDF modules.
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        return self

    def __exit__(self, *exc) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- Spark -------------------------------------------------------

    def start_spark(self, java_opts: str = "") -> StealClock:
        """Start the session through the engine's ``get_spark`` with the
        benchmark's launch settings, plus ``java_opts`` for the driver
        JVM; returns its timing."""
        from duckdb_gsheets_spark.plans.session import get_spark

        work = self.work
        conf = {
            "spark.driver.memory": f"{self.driver_mb}m",
            # bench.py's file-split sizing: scan parallelism matches the
            # core count on MB-sized parquet files.
            "spark.sql.files.maxPartitionBytes": "2097152",
            "spark.sql.files.openCostInBytes": "262144",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {java_opts}".strip()
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        with StealClock() as clock, self.tracer.span("session.start", "plans.session"):
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
        self._jvm_proc = self.spark.sparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        return clock

    def clean(self) -> None:
        """bench.py's between-operation hygiene, outside every clock:
        drop the plan memos, then a Python and a JVM collection so
        orphaned checkpoint blocks are reclaimed."""
        from duckdb_gsheets_spark.operators import clear_plan_caches

        clear_plan_caches()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def read_jvm_hwm(self) -> None:
        if self._jvm_proc is None:
            return
        with open(f"/proc/{self._jvm_proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    self.jvm_hwm_mb = int(line.split()[1]) / 1024.0

    def peak_rss_mb(self) -> float:
        self.read_jvm_hwm()
        return self.jvm_hwm_mb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def stop_spark(self) -> None:
        """Stop the session, then end the JVM (it exits when its stdin
        closes) and wait for it; its Python workers die with it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.read_jvm_hwm()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        proc = self._jvm_proc
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
        self._jvm_proc = None

    # -- report ------------------------------------------------------

    def environment(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "nproc": self.cores,
            "driver_memory_mb": self.driver_mb,
            "spark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
        }

    def write_trace(self, extra: dict) -> str:
        path = os.path.join(RUN_DIR, f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w") as fh:
            json.dump({"env": self.environment(), **extra, "spans": self.tracer.spans}, fh)
        return path


class Tracer:
    """In-memory spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # perf_counter and the JVM's epoch-millisecond stamps differ by
        # a constant; fixed once so JVM phases map onto span time.
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, layer: str, op: str | None, parent: int | None,
            start: float, end: float, **attrs) -> dict:
        sp = {"id": len(self.spans), "name": name, "layer": layer, "op": op,
              "parent": parent, "start": start, "end": end, **attrs}
        self.spans.append(sp)
        return sp

    def from_epoch_ms(self, ms: int) -> float:
        return ms / 1000.0 - self.epoch_offset


def set_job_group(spark, group: str | None) -> None:
    """Tag the jobs this thread starts from now on (None clears)."""
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def job_group(spark) -> str | None:
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def drain_listener(spark) -> None:
    """The status store is filled by the listener bus asynchronously;
    wait until every finished job has reached it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_jobs(spark, group: str) -> dict:
    """Jobs of one job group, from the status store: count, summed job
    seconds, and the task metrics of their (deduplicated) stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = {"jobs": 0, "job_s": 0.0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
           "spill_mb": 0.0}
    stages: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(job_id)
        out["jobs"] += 1
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            out["job_s"] += (
                jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
            ) / 1000.0
        stages.update(int(s) for s in to_java(jd.stageIds()))
    for sid in stages:
        st = store.lastStageAttempt(sid)
        out["tasks"] += st.numCompleteTasks()
        out["task_s"] += st.executorRunTime() / 1000.0
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


def cached_mb(spark) -> float:
    """Storage held by persisted/checkpointed blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def sp_seconds(span: dict) -> float:
    return span["end"] - span["start"]


def timed_passes(h: Harness, run_pass, run_traced_pass, min_passes: int) -> dict:
    """Repeat passes until ``h.seconds`` have elapsed and at least
    ``min_passes`` have run (a traced run: at least one block of four),
    then summarise them.

    Untraced, every pass is timed.  Traced, passes run in blocks of
    untraced, traced, traced, untraced, so a linear warming trend
    cancels out of the tracing overhead; the per-layer metrics are the
    medians over the traced passes.  Each pass function returns a dict
    with ``wall_s`` and ``net_s`` (see StealClock) besides its layers.
    """
    plain: list[dict] = []
    traced: list[dict] = []
    deadline = time.perf_counter() + h.seconds
    with StealClock() as window:
        while True:
            if h.trace:
                plain.append(run_pass())
                traced.append(run_traced_pass())
                traced.append(run_traced_pass())
                plain.append(run_pass())
            else:
                plain.append(run_pass())
            if (h.trace or len(plain) >= min_passes) and time.perf_counter() >= deadline:
                break
    log(f"{len(plain) + len(traced)} timed passes done")
    out = {
        "pass_s": median(p["net_s"] for p in plain),
        "pass_walls": [round(p["wall_s"], 3) for p in plain],
        "host_steal": window.steal,
        "layers": {},
    }
    if traced:
        layers = {key: median(t[key] for t in traced)
                  for key in traced[0] if key not in ("wall_s", "net_s")}
        untraced = sum(p["wall_s"] for p in plain) / len(plain)
        layers["trace.wall_s"] = median(t["wall_s"] for t in traced)
        layers["trace.untraced_wall_s"] = median(p["wall_s"] for p in plain)
        layers["trace.overhead_s"] = sum(t["wall_s"] for t in traced) / len(traced) - untraced
        layers["host.steal"] = window.steal
        out["layers"] = layers
    return out
