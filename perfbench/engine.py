"""Spark session lifetime and engine-wide counters for the benchmark.

``configure`` must run before pyspark starts its JVM: it sizes the session
for the host, makes the repository importable by Spark's Python workers,
and points every temporary directory into the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass


@dataclass
class Sizing:
    cpus: int
    driver_memory: str


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(repo_root: str, work_dir: str) -> Sizing:
    """Set the environment the session and its workers start from.

    The driver heap is an eighth of host memory, clamped to 1-4 GiB: the
    package default (48g) does not fit small hosts, and the benchmark's
    inputs need far less."""
    sizing = Sizing(
        cpus=host_cpus(),
        driver_memory=f"{min(4096, max(1024, host_memory_mb() // 8))}m",
    )
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(sizing.cpus),
            "SPARK_GRAFT_DRIVER_MEM": sizing.driver_memory,
            # Python workers (data-source readers, pandas UDFs) import the
            # package; without this they fail with ModuleNotFoundError
            "PYTHONPATH": repo_root + (os.pathsep + path if path else ""),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # compiler threads live as long as the JVM, so none of their CPU
            # time drops out of ``cpu_between``; without perf data the JVMs
            # (the launcher's too) write nothing to /tmp/hsperfdata_<user>
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData' pyspark-shell"
            ),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    return sizing


def start(sizing: Sizing):
    from pulsar_3_2_codedump_spark.session import get_spark
    from pulsar_3_2_codedump_spark.sources import register

    spark = get_spark("perfbench", cpus=sizing.cpus)
    register(spark)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    return spark


def jvm_process(spark) -> subprocess.Popen | None:
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _parents() -> dict[int, int]:
    """pid -> parent pid, for every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _children(pid: int) -> list[int]:
    return [p for p, ppid in _parents().items() if ppid == pid]


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


@dataclass
class Cpu:
    work_s: float  # outside the JIT compiler
    jit_s: float


def _tree() -> list[int]:
    """This process and every process under it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


# (pid, tid) -> (JIT thread?, ns); tid REAPED holds the CPU of the
# process's exited and reaped children
CpuSnapshot = dict[tuple[int, int], tuple[bool, int]]
REAPED = -1


def cpu_snapshot() -> CpuSnapshot:
    """Run time of every thread of this process tree (the JVM, its Python
    workers), from the scheduler's counter
    (``/proc/<pid>/task/<tid>/schedstat``), plus each process's reaped
    children (``/proc/<pid>/stat``). Unlike wall time, and unlike
    tick-sampled times, the counter leaves out time a shared host's other
    guests took from this machine's CPUs."""
    tick_ns = 1e9 / os.sysconf("SC_CLK_TCK")
    snap = {}
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        # cutime and cstime are fields 16 and 17
        snap[(pid, REAPED)] = (False, int((int(fields[13]) + int(fields[14])) * tick_ns))
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    ns = int(f.read().split()[0])
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    jit = f.read().startswith(JIT_THREADS)
            except OSError:
                continue
            snap[(pid, int(tid))] = (jit, ns)
    return snap


def cpu_between(before: CpuSnapshot, after: CpuSnapshot) -> Cpu:
    """CPU used between two snapshots, the JVM's JIT compiler threads kept
    apart: in runs this short compilation never finishes, and how much of
    it falls in a window varies with timing. A thread or process that
    starts counts from zero. A process that exits is counted whole in its
    parent's reaped children, so what it had used before is taken off; a
    thread that exits in a live process (rare: pools keep theirs) drops
    out."""
    live = {pid for pid, _ in after}
    work = jit = 0
    for key, (is_jit, ns) in after.items():
        d = ns - before.get(key, (is_jit, 0))[1]
        if is_jit:
            jit += d
        else:
            work += d
    for (pid, tid), (is_jit, ns) in before.items():
        if pid not in live and tid != REAPED and not is_jit:
            work -= ns
    return Cpu(work / 1e9, jit / 1e9)


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM and the Python workers it forked, and
    wait until each has exited."""
    from pyspark import SparkContext

    proc = jvm_process(spark)
    gateway = SparkContext._gateway
    workers = _children(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""

    def hwm_kb(pid: int | str) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    proc = jvm_process(spark)
    return (hwm_kb("self") + (hwm_kb(proc.pid) if proc else 0)) / 1024.0


@dataclass
class Counters:
    t: float
    jobs: int
    tasks: int
    shuffle_bytes: int
    stage_run_ms: dict[int, int]


def counters(spark) -> Counters:
    """Engine totals since the session started, from the status store.
    Executor run time is summed per stage: the executor summary's
    ``totalDuration`` tracks wall time in local mode, not task time."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    store = sc.statusStore()
    execs = store.executorList(True)
    tasks = shuffle = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        tasks += e.totalTasks()
        shuffle += e.totalShuffleWrite()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    run_ms = {}
    for i in range(stages.size()):
        st = stages.apply(i)
        run_ms[st.stageId()] = run_ms.get(st.stageId(), 0) + st.executorRunTime()
    return Counters(time.perf_counter(), sc.dagScheduler().numTotalJobs(), tasks, shuffle, run_ms)


def session_metrics(before: Counters, after: Counters, cpus: int) -> dict[str, float]:
    wall = after.t - before.t
    run_ms = sum(ms - before.stage_run_ms.get(sid, 0) for sid, ms in after.stage_run_ms.items())
    return {
        "session.spark_jobs": after.jobs - before.jobs,
        "session.tasks": after.tasks - before.tasks,
        "session.shuffle_bytes": after.shuffle_bytes - before.shuffle_bytes,
        "session.busy_share": run_ms / 1000.0 / (wall * cpus),
    }
