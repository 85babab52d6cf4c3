"""Shared benchmark machinery: environment, session boot, timing
statistics, steady-state warm-up, tracing spans and process probes.

Nothing here imports pyspark at module load, so the arithmetic helpers
can be tested without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NULL = nullcontext()


# -- statistics -----------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' rule),
    ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, threshold: float) -> int:
    """How many samples lie strictly above ``threshold``."""
    return sum(1 for v in values if v > threshold)


def drift_ratio(values) -> float:
    """Median of the last third over median of the first third, in
    operation order; 1.0 means no drift across the timed window."""
    n = len(values) // 3
    if n == 0:
        return 1.0
    return statistics.median(values[-n:]) / statistics.median(values[:n])


# -- tracing ---------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: int | None


def self_times(spans: list[Span]) -> dict[str, list[float]]:
    """Self time of every span, grouped by span name in recording
    order: the span's duration minus the part of its interval that its
    children's intervals cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, list[float]] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.setdefault(s.name, []).append((s.end - s.start) - covered)
    return out


class Trace:
    """In-memory span recorder. When disabled, ``span`` costs one
    branch and records nothing. Spans nest through a per-thread stack;
    a span opened on another thread (the HTTP server's) names its
    parent explicitly."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # the client's open request span, for spans the server records
        self.request: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: int | None = None,
             parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        if parent is None and st:
            parent = st[-1]
        if rid is None and parent is not None:
            rid = parent.rid
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                     None if parent is None else parent.id, rid)
            self.spans.append(s)
        st.append(s)
        try:
            yield s
        finally:
            st.pop()
            s.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- steady state ----------------------------------------------------------


def warm_until_steady(op, round_size: int, min_rounds: int = 2,
                      max_seconds: float = 60.0, tolerance: float = 0.03) -> int:
    """Run ``op(i)`` (returning its latency in seconds) in rounds of
    ``round_size`` until a round's median latency is no longer lower
    than the previous round's by more than ``tolerance``, or
    ``max_seconds`` pass. Returns the number of operations run."""
    t0 = time.perf_counter()
    prev = None
    i = rounds = 0
    while True:
        med = statistics.median(op(i + j) for j in range(round_size))
        i += round_size
        rounds += 1
        steady = prev is not None and med >= prev * (1.0 - tolerance)
        if (rounds >= min_rounds and steady) or time.perf_counter() - t0 > max_seconds:
            return i
        prev = med


# -- process probes ----------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate CPU line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already inside user/nice
    total = sum(vals[:8])
    return vals[7], total


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) of this process and every
    live descendant: the JVM and its Python workers. An upper bound on
    the tree's simultaneous peak."""
    total_kb = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# -- environment and session --------------------------------------------------


def configure_env(workdir: str) -> int:
    """Pin every scratch path under ``workdir`` and size the session to
    the host's cores and memory. Must run before pyspark is imported. Returns the core
    count the session uses."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    # a quarter of RAM, at most 4 GiB: the inputs are small and the
    # machine is shared
    driver_mb = min(4096, mem_kb // 1024 // 4)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        # Python workers hash str/bytes the same way in every run
        "PYTHONHASHSEED": "0",
        # no JVM perf-data files under /tmp (spark-submit's launcher JVM)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return cpus


def boot_session(workdir: str, cpus: int):
    from shotit_worker_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # JIT thresholds at a tenth of the default, so the query and
        # fold paths reach compiled steady state within the warm-up
        # instead of partway through the timed window; no perf-data
        # files under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:CompileThresholdScaling=0.1 -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark("scenebench", shuffle_partitions=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, must not leak the JVM
            proc.kill()
            proc.wait(timeout=10)


class JobCounter:
    """Spark jobs and tasks started since the previous ``delta`` call,
    read through the status tracker."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self._seen: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def delta(self) -> tuple[int, int]:
        ids = set(self.tracker.getJobIdsForGroup(None)) - self._seen
        self._seen |= ids
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(ids), tasks


# -- run bookkeeping ---------------------------------------------------------


@dataclass
class Op:
    latency: float  # seconds
    work: float  # units of throughput_per_s
    ok: bool
    traced: bool = False


@dataclass
class Run:
    """Everything one benchmark run measures."""

    t_start: float
    trace: Trace
    excluded_s: float = 0.0  # input generation and oracle preparation
    setup_end: float = 0.0
    ops: list[Op] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    setup_failures: list[str] = field(default_factory=list)  # wrong set-up output

    def record(self, op: Op, why: str | None = None) -> None:
        self.ops.append(op)
        if not op.ok:
            self.failures.append(why or "wrong output")

    def sample(self, name: str, value: float) -> None:
        """One observation of a per-layer metric; the run reports the
        median."""
        self.samples.setdefault(name, []).append(float(value))

    @property
    def setup_s(self) -> float:
        return self.setup_end - self.t_start - self.excluded_s


def end_to_end(run: Run, bytes_per_row: float) -> dict[str, tuple[float, str]]:
    """The six user-facing metrics from the untraced operations."""
    timed = [o for o in run.ops if not o.traced]
    lat_ms = [o.latency * 1e3 for o in timed]
    busy = sum(o.latency for o in timed)
    ok = sum(1 for o in timed if o.ok)
    return {
        "setup_s": (run.setup_s, "s"),
        "throughput_per_s": (sum(o.work for o in timed) / busy, "1/s"),
        "latency_p50_ms": (percentile(lat_ms, 50), "ms"),
        "latency_p90_ms": (percentile(lat_ms, 90), "ms"),
        "bytes_per_row": (bytes_per_row, "B"),
        "ok_share": (ok / len(timed), "ratio"),
    }
