"""The benchmark's side of the Spark session: start and stop it, and
read Spark's own state after each call (Catalyst phase times, stage
metrics per job group, the executed plan, peak memory).  Every reader
runs after the call it describes, outside the call's timed interval."""
from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench.metrics import plan_stats

PHASES = ("analysis", "optimization", "planning")


class Session:
    """One SparkSession for one benchmark run, created through the
    engine's own ``get_spark`` on ``local[cores]``, with every directory
    the JVM writes to placed under ``run_dir`` (the caller points
    ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` there too)."""

    def __init__(self, run_dir: str, cores: int):
        self.run_dir = run_dir
        self.cores = cores
        self.spark = None
        self._proc = None

    def start(self) -> float:
        """Start the session and run one trivial job; returns seconds."""
        from pyspark import SparkContext

        from taipei_bi_etl_spark.session import get_spark

        jtmp = os.path.join(self.run_dir, "jvm_tmp")
        os.makedirs(jtmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(
                    self.run_dir, "spark_warehouse"
                ),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData "
                    f"-Dderby.system.home={jtmp}"
                ),
            },
        )
        self.spark.range(1).count()
        elapsed = time.perf_counter() - t0
        self._proc = SparkContext._gateway.proc
        return elapsed

    def warm(self, sf_dir: str, tables: tuple[str, ...]) -> float:
        """Read the footers of the tables the workload reads, as bench.py
        does before timing; returns seconds."""
        from taipei_bi_etl_spark.io import read_table

        t0 = time.perf_counter()
        for t in tables:
            read_table(self.spark, sf_dir, t).count()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM plus this
        Python process, in MB.  It follows the garbage collector's heap
        sizing, which follows the host's load, so it is reported but not
        bounded."""
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return (
            _proc_status_kb(jvm_pid, "VmHWM") + _proc_status_kb(os.getpid(), "VmHWM")
        ) * 1024 / 1e6

    def retained_mb(self) -> float:
        """Memory the driver holds once the workload is done, in MB: the
        JVM heap in use after full collections, plus this Python
        process's resident set.  The listener bus is drained first, and
        collections are repeated after a pause until the heap stops
        falling: Spark frees some state asynchronously (cleaned
        broadcasts and shuffles), and after a DAG day one round left
        about 135 MB more than the next."""
        jvm = self.spark._jvm
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = None
        for _ in range(6):
            jvm.java.lang.System.gc()
            time.sleep(0.5)
            jvm.java.lang.System.gc()
            used = mx.getHeapMemoryUsage().getUsed()
            if heap is not None and used > heap * 0.99:
                heap = min(heap, used)
                break
            heap = used
        return (heap + _proc_status_kb(os.getpid(), "VmRSS") * 1024) / 1e6

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is not None:
            from pyspark import SparkContext

            from taipei_bi_etl_spark.queries import release_tracked

            release_tracked()
            self.spark.stop()
            self.spark = None
            # close the Python side of py4j first, so that objects
            # collected after the JVM exits do not try to reach it
            SparkContext._gateway.shutdown()
        if self._proc is not None:
            # the gateway JVM exits when its stdin closes
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except Exception:
                self._proc.kill()
                self._proc.wait()
            self._proc = None


def _proc_status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(f"{field}:"):
                return int(line.split()[1])
    raise ValueError(f"no {field} for pid {pid}")


def phase_seconds(query_execution) -> dict[str, float]:
    """Catalyst phase durations recorded on a QueryExecution's tracker."""
    phases = query_execution.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


@dataclass
class StageTotals:
    """Stage metrics summed over the jobs of one job group.  Times in
    seconds, sizes in bytes; ``jobs`` holds (start, end) epoch seconds."""

    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    jobs: list[tuple[float, float]] = field(default_factory=list)


def stage_totals(spark, group: str) -> StageTotals:
    """Read the status store for every job in ``group``.  Waits for the
    listener bus first, so the stages of the action just finished are
    recorded.  Skipped stages (shuffle output reused) are not counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = StageTotals()
    seen: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            out.jobs.append((
                job.submissionTime().get().getTime() / 1000.0,
                job.completionTime().get().getTime() / 1000.0,
            ))
        for sid in sc.statusTracker().getJobInfo(job_id).stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numTasks()
            out.failed_tasks += st.numFailedTasks()
            out.executor_run_s += st.executorRunTime() / 1000.0
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1000.0
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_fetch_wait_s += st.shuffleFetchWaitTime() / 1000.0
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def executed_plan_stats(query_execution) -> dict[str, int]:
    """Exchange and non-codegen node counts of an executed plan."""
    return plan_stats(query_execution.executedPlan().toString())


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def tree_snapshot(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(
    before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]
) -> tuple[int, int]:
    """(bytes, files) of files new or changed between two snapshots."""
    changed = [v for k, v in after.items() if before.get(k) != v]
    return sum(size for size, _ in changed), len(changed)
