"""Shared pieces of the benchmark: the run context, statistics, host facts
and the process-tree samplers (resident memory and CPU time, from /proc)."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field


# --- statistics --------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``; with fewer than 11 samples there is
    no such percentile and the maximum is returned with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n < 11:
        return float(xs[-1]), 100, n
    pct = math.floor(100 * (n - 10) / n)
    return float(xs[max(0, math.ceil(pct / 100 * n) - 1)]), pct, n


# --- host speed --------------------------------------------------------------


_BLOB = bytes(range(256)) * 16384  # 4 MiB


def _hash_blob() -> None:
    for _ in range(4):
        hashlib.sha256(_BLOB).digest()  # releases the GIL


def _probe_kernel() -> None:
    """A fixed piece of work with a serial part (interpreter and memory,
    like the driver's planning and scheduling) and a two-way parallel part
    (hashing on two threads, like a stage on two task threads): about 30 ms
    on an idle host of the defining kind."""
    acc = 0
    for i in range(100_000):
        acc += (i * i) % 7
    buf = bytearray(16_000_000)
    bytes(buf[::64])
    pair = [threading.Thread(target=_hash_blob) for _ in range(2)]
    for t in pair:
        t.start()
    for t in pair:
        t.join()


class HostProbe:
    """Times the fixed kernel before set-up and between operations, while
    the program is idle, to see how fast the shared host runs during the
    run. CPU steal on such a host swings from 0 to 20 % within minutes and
    moves every wall time with it, by half again at the worst; the kernel
    slows in step with the program, so time × ``scale()`` reads the same on
    a quiet and a busy host."""

    # The kernel's median time on the idle defining host: times scaled by
    # this probe are in seconds of that host.
    REFERENCE_S = 0.030

    def __init__(self) -> None:
        self.samples: list[float] = []

    def __call__(self) -> None:
        t0 = time.perf_counter()
        _probe_kernel()
        self.samples.append(time.perf_counter() - t0)

    def scale(self) -> float:
        return self.REFERENCE_S / median(self.samples)


# --- host facts --------------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class StealMeter:
    """CPU steal share of all CPU time between ``__init__`` and ``pct()``."""

    def __init__(self) -> None:
        self._t0, self._s0 = _cpu_times()

    def pct(self) -> float:
        t1, s1 = _cpu_times()
        return 100.0 * (s1 - self._s0) / max(1, t1 - self._t0)


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def host_facts(spark_version: str) -> dict:
    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": spark_version,
        "java": _java_version(),
        "machine": platform.machine(),
    }


# --- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, stack = _children(), [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return sum(int(v) for v in f[11:15])
    except (OSError, ValueError, IndexError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers)."""
    return sum(_cpu_ticks(p) for p in _tree(os.getpid())) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the process tree's resident memory."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.peak_mb = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            mb = sum(_rss_kb(p) for p in _tree(me)) / 1024.0
            self.peak_mb = max(self.peak_mb, mb)
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- run context -------------------------------------------------------------


@dataclass
class Run:
    """What one workload run shares with the harness: the session, whether
    tracing is on, where to write, and the counters it reports."""

    spark: object
    work: str
    seed: int
    seconds: float
    smoke: bool
    tracer: object | None  # tracing.Tracer when --trace 1, else None
    probe: HostProbe
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; record it when it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what[:300])

    def group(self, name: str):
        """Job-group context for the traced run; a no-op otherwise."""
        return self.tracer.group(name) if self.tracer else _NULL

    def window(self, cpu_s: float, ops: int) -> None:
        """Record the measured window's CPU cost per operation; the traced
        run also closes its event-log window here."""
        self.layers["process.cpu_s_per_op"] = cpu_s / max(1, ops)
        if self.tracer:
            self.tracer.window_end()


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def failure(what: str, exc: BaseException) -> str:
    return f"{what}: {type(exc).__name__}: {exc}"
