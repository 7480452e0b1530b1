"""Run plumbing shared by the workloads: the per-run directory, the Spark
launch environment, spans, /proc memory readings, the median and the
result line.

Nothing here imports pyspark or the package at module import: the launch
environment (core count, PYTHONPATH for Python workers, scratch dirs and
the traced run's event log) must be in ``os.environ`` before the JVM
starts, so :func:`start_spark` sets it and only then calls ``get_spark``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: checkout root: the directory that holds ``perfbench/`` and the package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opentsdb_aura_spark"

#: driver heap for the benchmark JVM (the program's default is 8g); the
#: inputs need well under this, and it is committed up front, see launch_env
DRIVER_MEM = "1g"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Scratch directory for one run, inside the checkout, removed on close."""

    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".perfbench_tmp")
        self.path = os.path.join(base, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new, empty subdirectory (one per set-up repetition or pass)."""
        self._n += 1
        p = os.path.join(self.path, f"{name}-{self._n}")
        os.makedirs(p)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def launch_env(run_dir: str, event_log_dir: str | None) -> dict[str, str]:
    """Environment the Spark launcher and the Python workers need.

    ``PYTHONPATH`` carries the checkout root to the workers, which
    unpickle the package's mapInPandas closures by module name; without
    it they fail with ``ModuleNotFoundError: opentsdb_aura_spark``.
    Scratch, shuffle and JVM temp files stay inside ``run_dir``.  The
    traced run turns on Spark's event log through launcher conf, so
    ``get_spark`` itself is used unchanged.
    """
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    confs = ["spark.ui.showConsoleProgress=false"]
    if event_log_dir:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log_dir}",
            "spark.eventLog.rolling.enabled=false",
            "spark.eventLog.compress=false",
        ]
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*.
    # The heap is committed and touched up front (Xms = heap cap, pre-touch),
    # so the JVM's resident set does not depend on how far GC let the heap
    # grow; the heap the program keeps is measured by jvm_heap_live_mb.
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    args = [f"--driver-java-options '{jvm}'"]
    args += [f"--conf {c}" for c in confs]
    pypath = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_STORE": os.path.join(run_dir, "store-cache"),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # glibc's per-thread malloc arenas made the JVM's off-heap resident
        # set vary by ~200 MB between runs; two arenas keep it steady
        "MALLOC_ARENA_MAX": "2",
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + pypath if pypath else ""),
        "PYSPARK_SUBMIT_ARGS": " ".join(args) + " pyspark-shell",
    }


def start_spark(run_dir: str, event_log_dir: str | None = None):
    """Launch the engine's session through the public ``get_spark``."""
    os.environ.update(launch_env(run_dir, event_log_dir))
    from opentsdb_aura_spark import get_spark

    return get_spark("perfbench")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) of this process and every process
    it started: the JVM, the Python worker daemon and its workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_heap_live_mb(spark) -> float:
    """JVM heap in use right after full collections: the heap the
    program still holds (plans, listener and UI state, broadcasts,
    caches), which the pre-touched heap hides from ``peak_rss_mb``."""
    jvm = spark.sparkContext._jvm
    # right after the loop a collection still finds ~25 MB live that a
    # second one half a second later frees (pending cleanup and listener
    # events); from the second on, readings repeat to 0.01 MB
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process the
    run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    # a later start_spark in this process launches a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        left = descendants()
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) CPU ticks of the whole machine so far, from
    /proc/stat; busy is every tick that was not idle or waiting on I/O,
    steal included."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice, already in user/nice]
    return fields[7], sum(fields[:8]) - fields[3] - fields[4]


def disk_usage(*paths: str) -> tuple[int, int]:
    """(data files, bytes) under ``paths``; Spark's hidden .crc and
    _SUCCESS markers are not data and are skipped."""
    files = size = 0
    for p in paths:
        for dirpath, _dirs, names in os.walk(p):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def median(values: list[float]) -> float:
    """Median; NaN when there are no samples."""
    return statistics.median(values) if values else math.nan


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    op: str | None
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each module, plus
    a Spark job group per operation so the event log attributes jobs to
    operations.  Disabled, every method is a no-op."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self._op, time.time(), parent=parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One client operation: a root span and the job group ``op_id``."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(op_id, kind)
        self._op = op_id
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None
            self.sc.setJobGroup("idle", "between operations")


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """The result line: the last line of standard output."""
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
