"""Sample statistics and process-tree measurements for the benchmark.

Pure Python over /proc: nothing here imports Spark, so the self-tests can
exercise it without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time

import numpy as np

# Percentiles the benchmark may report, lowest first.
PERCENTILE_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile in PERCENTILE_GRID that leaves at least
    ``min_beyond`` of ``n`` samples above it, or None when even the median
    does not."""
    best = None
    for p in PERCENTILE_GRID:
        if n * (1.0 - p / 100.0) >= min_beyond - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values: list[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def quartiles(values: list[float]) -> list[float]:
    """The three quartiles (statistics.quantiles, n=4); fewer than two
    samples give their repeats."""
    if len(values) < 2:
        return list(values) * 3
    return statistics.quantiles(values, n=4)


class Outcomes:
    """Counts attempted and failed operations. An operation is one public
    call into the engine; it fails when it raises."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, fn, *args, **kwargs):
        """Run one operation. Returns (ok, result); an exception is counted
        as a failure and its text kept for the run report."""
        try:
            res = fn(*args, **kwargs)
        except Exception as e:  # any engine error is a failed operation
            self.record_failure(e)
            return False, None
        self.attempted += 1
        return True, res

    def record_failure(self, e: Exception) -> None:
        """Count one attempted operation that failed with ``e``."""
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{type(e).__name__}: {e}"[:500])

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after the last ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def tree_pids(root: int | None = None, parent: dict[int, int] | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for pid, ppid in (_parents() if parent is None else parent).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used by the process tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 (1-based) of stat
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    parent = _parents()
    statm, exe = {}, {}
    for pid in tree_pids(root, parent):
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
            exe[pid] = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
    return rss_pages(statm, parent, exe) * _PAGE / 2**20


def rss_pages(statm: dict[int, str], parent: dict[int, int], exe: dict[int, str]) -> int:
    """Resident pages of the processes in ``statm`` (pid -> /proc statm
    text), each address space once. The JVM starts every helper command by
    forking itself; until the child execs it is a second ``java`` showing
    the JVM's memory, and counting it doubled the peak in a third of the
    runs. A ``java`` whose parent is a ``java`` is such a child."""
    return sum(
        int(st.split()[1])
        for pid, st in statm.items()
        if not (exe.get(pid) == "java" and exe.get(parent.get(pid)) == "java")
    )


# CPU seconds the benchmark's own sampling threads (RssSampler, SpeedProbe)
# have spent; they run inside the measured process tree
_own_cpu = {"s": 0.0}
_own_lock = threading.Lock()


def _add_own_cpu(seconds: float) -> None:
    with _own_lock:
        _own_cpu["s"] += seconds


def own_cpu_s() -> float:
    return _own_cpu["s"]


def jit_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the JIT compiler threads of the JVMs in the tree.
    They are read per thread, which holds only while the compiler threads
    live as long as the JVM (-XX:-UseDynamicNumberOfCompilerThreads)."""
    total = 0
    for pid in tree_pids(root):
        try:
            if os.path.basename(os.readlink(f"/proc/{pid}/exe")) != "java":
                continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, fields = stat.rsplit(")", 1)
            # "C1 CompilerThre", "C2 CompilerThre" (names are cut at 15)
            if "CompilerThre" in name:
                total += sum(int(x) for x in fields.split()[11:13])
    return total / _CLK_TCK


def work_cpu_s() -> tuple[float, float]:
    """(CPU seconds of the process tree without the JIT compiler threads
    and the benchmark's own sampling threads, CPU seconds of the JIT)."""
    jit = jit_cpu_s()
    return tree_cpu_s() - jit - own_cpu_s(), jit


class Stopwatch:
    """Wall and CPU seconds of a block, set when it exits: ``wall`` (from
    perf_counter() readings ``t0`` to ``t1``);
    ``cpu``, the process tree's CPU without the JIT compilers and the
    benchmark's own sampling threads; ``jit``, the compilers' CPU.

    The JIT is left out because how much of its compiling falls inside a
    measured block depends on how far the warm-up got, not on the block:
    the first tail after the warm-up spent 4-14 of its 28-38 CPU seconds
    compiling, and each repeat of it less."""

    def __enter__(self) -> "Stopwatch":
        self.t0 = time.perf_counter()
        self._c0, self._j0 = work_cpu_s()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.perf_counter()
        self.wall = self.t1 - self.t0
        c1, j1 = work_cpu_s()
        self.cpu, self.jit = c1 - self._c0, j1 - self._j0


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps the
    peak. Use as a context manager; ``peak_mb`` is valid afterwards."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            c0 = time.thread_time()
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            _add_own_cpu(time.thread_time() - c0)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# Thread CPU seconds of one speed_kernel() on the reference host (a 4-core
# KVM guest on a Xeon, CPU model 143): the median of five pages_cdc runs'
# in-run medians
REF_KERNEL_S = 0.0099

_rng = np.random.default_rng(12345)
_KERNEL_ARR = _rng.random(1 << 22)  # 32 MB: beyond a core's L2
_KERNEL_IDX = _rng.integers(0, 1 << 22, 1 << 18)
_KERNEL_BUF = _rng.bytes(1 << 20)


def speed_kernel() -> float:
    """A fixed piece of work: hashing (compute), a random gather over 32 MB
    (memory latency) and a sort (branches). Returns its thread CPU seconds,
    which grow when the host runs this guest's cores slower. NumPy and
    hashlib release the GIL for most of it."""
    c0 = time.thread_time()
    hashlib.sha256(_KERNEL_BUF).digest()
    np.sort(_KERNEL_ARR[_KERNEL_IDX])
    return time.thread_time() - c0


class SpeedProbe:
    """Times speed_kernel() on a thread every ``interval`` seconds while a
    run sets up and measures. ``factor(t0, t1)`` is REF_KERNEL_S over the median
    kernel time between two perf_counter() readings (a Stopwatch's ``t0``
    and ``t1``): multiplied into the CPU seconds of that block, it gives
    CPU seconds at the reference host's speed.

    The host's cores are shared with other guests, which changes how fast
    they run: the kernel's time moved by +-20% from second to second on a
    quiet host, and a whole run of the benchmark could be ~20% slower than
    the one before it (JVM start included). Process CPU time grows with
    that, so a CPU figure taken alone moves with the neighbours' load;
    taken against the kernel's time over the same seconds, it moves with
    the engine's work. The probe's own CPU is not counted in Stopwatch."""

    # a block with fewer kernel samples than this is corrected by the
    # median over the whole run
    MIN_SAMPLES = 10

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.samples: list[tuple[float, float]] = []  # (end time, kernel s)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            t = speed_kernel()
            self.samples.append((time.perf_counter(), t))
            _add_own_cpu(t)
            self._stop.wait(self.interval)

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        """Stop sampling; the samples stay (stopping twice is harmless)."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def factor(self, t0: float = -math.inf, t1: float = math.inf) -> float:
        """1.0 when the probe has no samples at all."""
        inside = [k for t, k in self.samples if t0 <= t <= t1]
        if len(inside) < self.MIN_SAMPLES:
            inside = [k for _, k in self.samples]
        return REF_KERNEL_S / median(inside) if inside else 1.0


def busy_cores(interval: float = 0.25) -> float:
    """Host-wide busy cores over ``interval`` from two /proc/stat samples
    (the same reading bench.py's quiet gate takes; no waiting gate here)."""

    def snap() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]  # total, idle + iowait

    t0, i0 = snap()
    time.sleep(interval)
    t1, i1 = snap()
    total, idle = t1 - t0, i1 - i0
    if total <= 0:
        return 0.0
    return round((total - idle) / total * (os.cpu_count() or 1), 2)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(total_mb: int) -> int:
    """Driver heap for a local[n] run: a quarter of physical memory, at
    least 1 GiB and at most 2 GiB. The host's memory is shared, and the
    benchmark's inputs are tens of MB, so the heap stays small."""
    return max(1024, min(2048, total_mb // 4))
