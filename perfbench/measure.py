"""Statistics and host measurements: the percentile rule, the process
tree's resident memory and CPU time, and the validity of a run."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    above it, and its value; None when no percentile above the median
    qualifies (fewer than 2 * min_beyond samples). With 100 samples
    this is p90, with 1000 p99."""
    n = len(samples)
    p = math.floor(100 - 100 * min_beyond / n) if n else 0
    if p <= 50:
        return None
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


# -- process tree ------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; everything after the closing paren is fixed
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[-1]] + rest.split()


def tree_pids(root: int, exclude_comm: tuple[str, ...] = ("postgres",)) -> list[int]:
    """root and every live descendant, minus processes named in
    exclude_comm (the remote database server is not the engine)."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is None:
            continue
        comm[int(entry)] = f[0]
        children.setdefault(int(f[2]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if comm.get(pid, "") in exclude_comm:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    """Resident size of the processes, from /proc/<pid>/statm. statm is
    a counter read; smaps_rollup (PSS) walks every page table of the
    process, which for the JVM's pre-touched heap took ~50 ms a read and
    slowed the engine while the sampler ran. Pages that forked Python
    workers share with their parent count in each of them."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            pass
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the live tree, including children
    each process has already reaped."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
            total += sum(int(v) for v in f[12:16])
    return total / TICK


class RssSampler:
    """Samples the resident memory of this process's tree in a
    daemon thread and keeps the peak since start() or the last
    restart(). Stop it after the work."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(tree_pids(root)))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def restart(self) -> float:
        """Start a new peak; returns the previous one in MB."""
        peak, self.peak_bytes = self.peak_bytes, 0
        return peak / 1e6

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / 1e6


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> list[int]:
    """Wait until none of pids is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and (_stat_fields(p) or ["", "Z"])[1] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


# -- run validity --------------------------------------------------------------

def cpu_snapshot() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:9]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


class Validity:
    """What a reader needs to tell a noisy run from a clean one without
    re-running it: core count, 1-minute load average at start and end,
    and the host's CPU steal over the run."""

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        self.load_start = os.getloadavg()[0]
        self._snap = cpu_snapshot()
        self._t0 = time.time()

    def finish(self) -> dict:
        steal1, total1 = cpu_snapshot()
        d_total = total1 - self._snap[1]
        return {
            "nproc": self.nproc,
            "loadavg_1m_start": round(self.load_start, 2),
            "loadavg_1m_end": round(os.getloadavg()[0], 2),
            "steal_pct": round(100.0 * (steal1 - self._snap[0]) / d_total, 2) if d_total > 0 else 0.0,
            "wall_s": round(time.time() - self._t0, 2),
        }
