"""Statistics, failure counting, metric-name rules, the process-tree CPU
reading and the RSS sampler.

Everything here is plain Python with no Spark dependency, so the tests in
``test_perfbench.py`` exercise it directly.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name, else raise."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}: want [A-Za-z0-9_.-], <= 64")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


def tail(values: list[float], beyond: int = 10) -> tuple[int, float, int] | None:
    """Highest whole percentile with at least ``beyond`` samples above it.

    Uses the nearest-rank percentile: the p-th percentile is the k-th
    smallest sample with k = ceil(p * n / 100), and n - k samples lie beyond
    it.  Returns ``(p, value, n - k)``, or None when fewer than
    ``beyond + 1`` samples exist."""
    n = len(values)
    if n < beyond + 1:
        return None
    p = (100 * (n - beyond)) // n
    k = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[k - 1], n - k


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the acceptance
    rule for a benchmark metric's steadiness); NaN below two values."""
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


class Tally:
    """Operations attempted and failed; an operation that raised and one
    whose output a check rejected both count as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if why:
                self.errors.append(why)

    def fail_checked(self, why: str) -> None:
        """A completed operation whose output failed a later check."""
        self.failed += 1
        self.errors.append(why)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _children(pid_ppid: dict[int, int], root: int) -> set[int]:
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, ppid in pid_ppid.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def _stat_fields() -> dict[int, list[str]]:
    """``{pid: stat fields from the state on}`` of every live process; the
    command name may hold spaces, so fields resume after its ')'."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = stat[stat.rindex(")") + 2:].split()
    return out


def descendants(root: int) -> set[int]:
    """``root`` and every live process below it, from /proc."""
    return _children({p: int(f[1]) for p, f in _stat_fields().items()}, root)


# HotSpot's JIT compiler threads (names as /proc truncates them)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(JIT_THREADS):
            total += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:13])
    return total


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds spent so far by ``root``, every live
    process below it and every child they have reaped, less the CPU of the
    JVM's JIT compiler threads.  Time a vCPU is stolen by the hypervisor or
    spent waiting for a core counts in none of these, so a share of a busy
    host costs wall time but not CPU.  The JIT's share is the JVM warming
    up, not the program's work; subtracting it needs compiler threads that
    never exit (``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of
    an exited one would move from the subtracted share into the total."""
    fields = _stat_fields()
    tree = _children({p: int(f[1]) for p, f in fields.items()}, root)
    # utime, stime, cutime, cstime: stat fields 14-17
    ticks = sum(int(v) for p in tree if p in fields for v in fields[p][11:15])
    ticks -= sum(_jit_ticks(p) for p in tree)
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """``{pid: (executable, resident bytes)}`` of the benchmark process
    ``root``, its direct children (the driver JVM) and every Python process
    below it (the JVM's Python workers).  Other descendants are left out:
    the JVM's short-lived spawn helpers share its memory while they start
    and would count the JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            if pid != root and ppid != root and not exe.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = (exe, int(f.read().split()[1]) * page)
        except OSError:
            continue
    return out


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak`` is the
    largest sum seen.  Used as a context manager around a whole run."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            procs = tree_rss(root)
            total = sum(v for _, v in procs.values())
            if total > self.peak:
                self.peak, self.at_peak = total, procs
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
