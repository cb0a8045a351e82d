"""Host sizing, load readings and process-tree memory for the benchmark.

Nothing here gates a run: the load reading and the spin are recorded next
to the results so a reader can tell a loaded host from a slow change.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

SPIN_ITERS = 300_000


def cpus() -> int:
    """Task slots for the session: the cores this process may use, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def heap_mb(n_cpus: int) -> int:
    """Driver heap: a fifth of physical memory, at most 1 GB per slot.

    Local mode keeps every task buffer in the one driver JVM, so the heap
    scales with slots; the physical-memory share keeps it well under the
    host's RAM, which ``get_spark``'s own 16 GB floor does not.
    """
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 20)
    return max(512, min(phys_mb // 5, 1024 * n_cpus))


def load_reading(n_procs: int) -> dict:
    """1-minute loadavg plus the median wall time of a fixed spin run in
    ``n_procs`` Python processes started at once."""
    code = (
        "import time; t = time.perf_counter(); a = 0\n"
        f"for i in range({SPIN_ITERS}): a += i * i\n"
        "print(time.perf_counter() - t)"
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(n_procs)
    ]
    times = sorted(float(p.communicate(timeout=120)[0]) for p in procs)
    return {"loadavg_1m": os.getloadavg()[0], "spin_s": times[len(times) // 2]}


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def _descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, [])
        out += kids
        todo += kids
    return out


def wait_for_children(timeout: float) -> bool:
    """Wait until this process has no descendants left; False on timeout."""
    end = time.monotonic() + timeout
    while _descendants(os.getpid()):
        if time.monotonic() > end:
            return False
        time.sleep(0.2)
    return True


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used by ``root`` (default: this process)
    and its descendants so far, exited descendants included once their
    parent has reaped them. Time the kernel gave other processes is not
    counted, so this moves less with host load than wall time does."""
    root = os.getpid() if root is None else root
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields 14-17: utime, stime, cutime, cstime
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return total / tick


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s on
    a daemon thread between ``start`` and ``stop``; ``peak_mb`` is the
    largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1 << 20)
