"""Shared plumbing of the benchmark: the run's work directory, the
Spark session, timing and summary statistics."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
# local[k]: k is the machine's usable cores, at most 4; PERFBENCH_CORES
# lowers it (PERFBENCH_CORES=1 gives the single-threaded baseline)
CORES = max(1, min(4, len(os.sched_getaffinity(0)),
                   int(os.environ.get("PERFBENCH_CORES", "4"))))


def bench_spec() -> dict:
    """BENCHMARK.json at the root of the checkout."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def now() -> float:
    return time.perf_counter()


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user + system) this process and every descendant have
    used so far: the Python driver, the Spark JVM (its JIT compiler and
    garbage collector included) and its Python workers, reaped children
    included.  Read from ``/proc``; the kernel leaves out the time the
    host steals from this virtual machine's CPUs."""
    me = os.getpid()
    ppid, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        f = s[s.rindex(")") + 2:].split()
        ppid[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = ppid.get(p, 0)
        if p == me:
            total += t
    return total / _TICK


def steal_s() -> float:
    """Seconds the host has taken from this machine's virtual CPUs so
    far, summed over the CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def rounds_for(seconds: float, round_s: float) -> int:
    """Rounds a run of ``seconds`` times: fixed before timing starts, so
    every run of the same length attempts the same operations."""
    return max(1, int(seconds // round_s))


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` side files are not data and are skipped."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


@dataclass
class Workdir:
    """A run's private scratch tree inside the checkout.  ``TMPDIR`` and
    Spark's local dirs point into it, so temp files the engine leaves
    behind are removed with it when the run ends."""

    name: str
    path: str = field(init=False)

    def __post_init__(self):
        self.path = os.path.join(WORK_ROOT, f"tmp-{self.name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def activate(self) -> None:
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # the JVM's temp files and perf data stay out of /tmp as well
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: Workdir):
    """The engine's own session factory on local[CORES], with a small
    driver heap and the warehouse inside the work dir."""
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work.sub('warehouse')} pyspark-shell"
    )
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from akvorado_spark.session import get_spark

    return get_spark("perfbench", cpus=CORES)


class Ops:
    """Attempted / failed operation counts of a run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(what)
