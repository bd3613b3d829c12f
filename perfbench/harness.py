"""Shared benchmark plumbing: pinned environment, Spark session, job/task
counting, spans, memory and summary statistics.

Nothing here changes how the engine runs; it only fixes the environment the
engine runs in and observes it from the outside.
"""

from __future__ import annotations

import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import time
from contextlib import contextmanager

# Driver heap for every benchmark session. ``build_session`` defaults to
# 16g, more than a 16 GiB host can give; the largest workload state (the
# 500k-row CDC table) fits well inside 3g.
DRIVER_MEM = "3g"
DRIVER_MEM_BYTES = 3 * 1024**3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class Workspace:
    """Scratch area under ``<checkout>/.perfbench_work``; every file the
    benchmark or Spark writes goes below it."""

    def __init__(self, root: str, tag: str) -> None:
        self.root = root
        self.base = os.path.join(root, ".perfbench_work")
        self.dir = os.path.join(self.base, f"{tag}-{os.getpid()}")
        self.local_dirs = os.path.join(self.dir, "spark-local")
        self.tmp = os.path.join(self.dir, "tmp")
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.stream_scratch = os.path.join(self.dir, "stream-scratch")
        self.traces = os.path.join(self.base, "traces")
        for d in (self.local_dirs, self.tmp, self.warehouse, self.stream_scratch,
                  self.traces):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def pin_environment(ws: Workspace, cores: int) -> dict:
    """Fix the knobs that change what a number means, and return them so
    every result records them."""
    if DRIVER_MEM_BYTES >= host_ram_bytes():
        raise RuntimeError("driver heap must stay below host RAM")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = ws.local_dirs
    os.environ["TMPDIR"] = ws.tmp
    # the streaming query modules put scratch checkpoints on /dev/shm
    # unless told otherwise
    os.environ["K2D_CKPT_DIR"] = ws.stream_scratch
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)
    # Python workers import the engine and the benchmark from the checkout.
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ws.root + (os.pathsep + old if old else "")
    return {
        "nproc": nproc(),
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "host_ram_gib": round(host_ram_bytes() / 1024**3, 1),
        "spark_local_dirs": os.path.relpath(ws.local_dirs, ws.root),
        "stream_scratch": os.path.relpath(ws.stream_scratch, ws.root),
    }


def start_session(ws: Workspace, cores: int):
    from kafka2delta_spark.session import build_session

    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": ws.warehouse,
            "spark.ui.showConsoleProgress": "false",
            # The whole heap is committed and touched at start: how much of
            # a lazily grown heap the JVM touches swings peak RSS by a
            # third between identical runs, so the RSS metric tracks the
            # off-heap and Python side. -UsePerfData: no hsperfdata file
            # in the host's /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={ws.tmp}"
            ),
        },
    )
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism != cores:
        raise RuntimeError(f"session runs {parallelism} cores, expected {cores}")
    return spark


class SparkCounter:
    """Counts Spark jobs and completed tasks over an interval.

    Job ids are handed out by the DAG scheduler from one process-wide
    sequence, so the difference of ``nextJobId`` across an interval counts
    every job launched in it, from any thread: the caller's, a streaming
    query's micro-batch thread, or a broadcast future. A job-group count
    from the caller's thread misses the last two."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._tracker = sc.statusTracker()

    def mark(self) -> int:
        return int(self._dag.nextJobId())

    def since(self, mark: int) -> tuple[int, int]:
        """(jobs, tasks) launched since ``mark``. A stage reused by a later
        job is skipped there and counted once."""
        end = self.mark()
        stages: set[int] = set()
        for job_id in range(mark, end):
            info = self._tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tasks = 0
        for stage_id in stages:
            st = self._tracker.getStageInfo(stage_id)
            if st is not None:
                tasks += st.numCompletedTasks
        return end - mark, tasks


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus the Spark
    jobs and tasks launched inside each, written out once at the end.

    ``overhead_s`` accumulates the time the tracer itself spends counting,
    which is the tracing cost added to the traced run's loop."""

    def __init__(self, run_id: str, counter: SparkCounter) -> None:
        self.run_id = run_id
        self.counter = counter
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        c0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.counter.mark()
        start = time.perf_counter()
        self.overhead_s += start - c0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["start_s"] = start - self._t0
            rec["end_s"] = end - self._t0
            rec["jobs"], rec["tasks"] = self.counter.since(mark)
            self.overhead_s += time.perf_counter() - end

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the Spark JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    return (own + jvm) / 1024.0


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    the co-tenant load that moves timings on a shared VM run to run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it, as
    (value, percentile, sample count). With fewer than eleven samples no
    such percentile exists and the maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def calibrate(spark, samples: int = 3) -> float:
    """Host-speed probe (the fixed shuffle+aggregate of ``bench.py``):
    median of ``samples`` timed runs after one discarded warm-up."""

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(30_000_000)
            .selectExpr("id % 100000 AS k", "id AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    once()
    return statistics.median(once() for _ in range(samples))


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly or
    not, so that processes orphaned on the way (the Python worker daemon the
    JVM forks, multiprocessing helpers) are re-parented here and can be
    waited for by ``end_children`` instead of outliving the run."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # "pid (comm) state ppid ...": comm may hold spaces and parentheses
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_children(grace_s: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended:
    first let them exit on their own, then SIGTERM, then SIGKILL."""
    from multiprocessing import resource_tracker

    # The spawn start method's resource tracker ignores SIGTERM and exits
    # only when its pipe closes; close it and wait for it.
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        pids = _child_pids()
        if not pids:
            break
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
    _reap()
