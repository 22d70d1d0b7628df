"""Process, Spark-session and measurement plumbing shared by the workloads.

Everything here observes the library from outside: it starts the session
through ``sgdnet_spark.session.get_spark``, reads ``/proc`` for CPU and
memory, and counts Spark jobs through job groups and ``statusTracker()``.
"""

from __future__ import annotations

import os
import resource
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(") ")[2].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"perfbench [{process_age():7.2f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env(cpus: int) -> None:
    """Pin every knob the run depends on before pyspark or numpy load:
    one BLAS thread, ``local[cpus]``, and every scratch file inside the
    checkout (Spark local dirs, JVM and Python temp files)."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the library default (48g) is a heap ceiling sized for a dedicated
    # host; the benchmark inputs need a fraction of this
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --conf spark.local.dir={local} "
        "pyspark-shell"
    )


def start_spark():
    from sgdnet_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process this run started (JVM, pyspark daemon and workers) is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - any failure here must still kill it
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in _descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds, comm) for every readable process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, _, rest = raw.rpartition(") ")
        parts = rest.split()
        try:
            comm = head.split(" (", 1)[1]
            out[int(name)] = (int(parts[1]), (int(parts[11]) + int(parts[12])) / tick, comm)
        except (IndexError, ValueError):
            continue
    return out


def _descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(children.get(pid, []))
    return out


ROLES = ("driver", "jvm", "pyworker")


def cpu_sample() -> dict[int, tuple[str, float]]:
    """pid -> (role, cpu seconds) over this process tree. Roles: this
    Python process is the driver, a ``java`` descendant is the JVM, and
    any other descendant (pyspark daemon and its forked workers) is a
    Python worker."""
    table = _proc_table()
    me = os.getpid()
    out = {}
    for pid in _descendants(me, table):
        _, cpu, comm = table.get(pid, (0, 0.0, ""))
        role = "driver" if pid == me else ("jvm" if comm == "java" else "pyworker")
        out[pid] = (role, cpu)
    return out


def cpu_delta(c0: dict, c1: dict) -> dict[str, float]:
    """CPU seconds per role between two samples: per-PID deltas clamped at
    zero, so a worker reaped between samples cannot make a total negative
    (it only loses what it burned after the first sample)."""
    out = dict.fromkeys(ROLES, 0.0)
    for pid, (role, v1) in c1.items():
        v0 = c0.get(pid, (role, 0.0))[1]
        out[role] += max(0.0, v1 - v0)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share
    of time the hypervisor ran someone else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ------------------------------------------------------------ Spark jobs


class JobCounter:
    """Spark jobs, stages and tasks launched while an op runs. The op's
    own thread carries a job group; jobs submitted from library thread
    pools carry none, so new ungrouped jobs are counted too (the benchmark
    runs one op at a time, so nothing else submits jobs meanwhile)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def _ids(self, group) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def begin(self, name: str):
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        return group, self._ids(None)

    def end(self, token) -> dict[str, int]:
        group, ungrouped0 = token
        self.sc.setJobGroup("perfbench-idle", "idle")
        jobs = self._ids(group) | (self._ids(None) - ungrouped0)
        # the listener bus is asynchronous: wait until every job is final
        deadline = time.monotonic() + 5
        infos = {}
        while jobs:
            infos = {j: self.tracker.getJobInfo(j) for j in jobs}
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos.values()):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.02)
        stages = tasks = 0
        for info in infos.values():
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:  # None: skipped, never submitted
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# --------------------------------------------------------------- forcing


def hash_force(df):
    """Run ``df`` to completion and return an order-insensitive fingerprint
    of every column: the sum of per-row xxhash64 values. Unlike count(),
    which lets the optimizer prune computed columns, this reads them all.
    The sum runs in decimal so it cannot overflow."""
    from pyspark.sql import functions as F

    row = df.select(
        F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)"))
    ).collect()[0]
    return str(row[0])


# ----------------------------------------------------------------- stats


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Outcome:
    """What a workload hands back to run.py: ops attempted, the ops that
    raised or produced a wrong output, and the metrics gathered."""

    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict[str, object] = field(default_factory=dict)  # printed, not declared

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def fail(self, key: tuple[int, str], what: str) -> None:
        self.failed_ops.add(key)
        self.errors.append(f"iteration {key[0]} {key[1]}: {what}")

    def check_at(self, iteration: int, op: str, ok: bool, what: str) -> None:
        """An output check of ``op`` in ``iteration``; a failure marks
        that op failed."""
        if not ok:
            self.fail((iteration, op), what)
