"""Run lifecycle shared by the workloads: the per-run directory, the Spark
session, per-operation job counts, memory readings and the wire clients."""

from __future__ import annotations

import http.client
import json
import os
import resource
import shutil
import statistics
import time
import uuid
from urllib.parse import urlencode

#: Spark cores: fixed, and below the 4 of the reference machine, so the
#: driver, the JIT and the client keep cores of their own
SPARK_CORES = 2
DRIVER_MEMORY = "2g"
#: the driver JVM compiles with C1 only: C2 needs more than a run's length
#: of warm-up and spends half the process's CPU doing it (README,
#: Steadiness); the larger code cache keeps C1's code from being swept and
#: recompiled; a fixed set of compiler threads lets ``cpu_clock`` leave
#: their CPU out
JIT_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
    "-XX:-UseDynamicNumberOfCompilerThreads"
)


class RunDir:
    """A per-run directory under the checkout holding every store root,
    staged input, Spark local dir and temp file; removed on exit."""

    def __init__(self, checkout: str):
        self.path = os.path.join(
            checkout, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )

    def create(self) -> None:
        for sub in ("tmp", "spark-local", "stores"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(run: RunDir) -> None:
    """Keep Spark's and Python's scratch files inside the run directory and
    the driver JVM small; must run before the JVM starts."""
    import tempfile

    tmp = run.sub("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_FAIR_POOLS"] = "0"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # no hsperfdata file in the machine's /tmp; and the ContextCleaner's
        # System.gc() every 45 s (session.py) runs as a concurrent cycle
        # instead of a stop-the-world full collection that lands on
        # whichever operation is in flight
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"-XX:-UsePerfData -XX:+ExplicitGCInvokesConcurrent {JIT_OPTIONS}' "
        f"--conf spark.sql.warehouse.dir={run.sub('tmp', 'warehouse')} "
        "pyspark-shell"
    )


def start_spark(app: str):
    from kenshin_spark.session import get_spark

    return get_spark(app, cpus=SPARK_CORES)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate on a hung JVM
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_clock(spark):
    """A clock of the CPU seconds this Python process and the Spark driver
    JVM spend on the program's work: every thread of both, except the
    JVM's JIT compiler threads, whose work is the JVM's warm-up and falls
    on whichever operation is in flight. Time the host gave to other
    machines (steal) is not counted, so an operation's CPU time does not
    depend on the host's load the way its wall time does."""
    pid = jvm_pid(spark)
    # the CPU-time clock of another process: MAKE_PROCESS_CPUCLOCK(pid,
    # CPUCLOCK_SCHED) of the Linux kernel
    jvm_clock = ((~pid) << 3) | 2
    task_dir = f"/proc/{pid}/task"
    compilers = []
    for tid in os.listdir(task_dir):
        with open(f"{task_dir}/{tid}/comm") as fh:
            if "CompilerThre" in fh.read():
                compilers.append(f"{task_dir}/{tid}/schedstat")

    def jit_s() -> float:
        total = 0
        for path in compilers:
            with open(path) as fh:
                total += int(fh.read().split()[0])
        return total / 1e9

    def now() -> float:
        return time.clock_gettime(jvm_clock) - jit_s() + time.process_time()

    return now


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the Spark driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm_pid(spark)
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class JobCounter:
    """Spark jobs and tasks per operation, from the status tracker.

    Calls on this thread run under a job group named after the operation.
    Requests served on the servers' handler threads are counted as the
    jobs started while the request was outstanding (one client, one
    request at a time). Both are read right after the operation: the
    session keeps only the last 100 jobs and 200 stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._dag = self.sc._jsc.sc().dagScheduler()

    def total_jobs(self) -> int:
        return int(self._dag.numTotalJobs())

    def tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    n += st.numCompletedTasks
        return n

    def begin_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end_group(self, group: str) -> tuple[int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        ids = list(self.tracker.getJobIdsForGroup(group))
        return len(ids), self.tasks(ids)

    def since(self, first_job: int) -> tuple[int, int]:
        ids = range(first_job, self.total_jobs())
        return len(ids), self.tasks(ids)


def noop_job_ms(spark, n: int = 5) -> list[float]:
    """Wall times of a trivial one-task job: a control for machine state."""
    out = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        out.append((time.perf_counter() - t) * 1000.0)
    return out


def jvm_gc_ms(spark) -> int:
    """Milliseconds the driver JVM has spent in garbage collection."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


# -- wire clients ------------------------------------------------------------


def http_get(address: tuple[str, int], path: str, params) -> dict:
    conn = http.client.HTTPConnection(*address, timeout=120)
    try:
        conn.request("GET", f"{path}?{urlencode(params, doseq=True)}")
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"GET {path} -> HTTP {resp.status}")
        return json.loads(body)
    finally:
        conn.close()


# -- statistics -------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("no samples")
    return float(statistics.median(xs))
