"""Shared measurement helpers: latency summaries, process-tree CPU and
memory from ``/proc``, new-file accounting under a directory, and the
result dictionary every workload returns."""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tail_pct(n_min: int) -> int:
    """The highest whole percentile with at least ten samples beyond it
    when a run completes ``n_min`` ops (the workload's guaranteed floor),
    but not below the median."""
    return max(50, math.floor(100 * (1 - 10 / n_min)))


def work_units(seconds: float, per_10s: int) -> int:
    """How many units (ticks, passes, rounds) a timed phase runs: a fixed
    amount per 10 s of ``--seconds``, sized to take about that long on a
    4-core host. Fixing the work, not the time, keeps each run's op count
    and op mix the same whatever the host's or the program's speed."""
    return per_10s * max(1, round(seconds / 10))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(pct/100 * n))."""
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- process tree ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """This process and every live descendant (driver, JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """utime+stime of every live process in the tree, plus cutime+cstime:
    the CPU of children each one has already reaped (short-lived Python
    workers, forked by the worker daemon, are counted there)."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM): an upper bound on the
    tree's peak, read once at the end of a run."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def tree_write_bytes() -> int:
    """Bytes the tree's live processes sent to files (``/proc/<pid>/io``
    write_bytes: counted when pages are dirtied, so pipes and sockets such
    as the py4j and Python-worker channels are excluded)."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


# -- files -------------------------------------------------------------------


class NewFiles:
    """Tracks files under a directory; ``poll`` returns the files that
    appeared (or were rewritten) since the previous poll."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: dict[str, tuple[int, int]] = {}
        self.poll()

    def poll(self) -> dict[str, int]:
        now: dict[str, tuple[int, int]] = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                now[p] = (st.st_mtime_ns, st.st_size)
        fresh = {p: v[1] for p, v in now.items() if self.seen.get(p) != v}
        self.seen = now
        return fresh


def data_files(paths) -> list[str]:
    """Data files of a Spark output: no checksums, markers or manifests."""
    return [p for p in paths if not os.path.basename(p).startswith((".", "_"))]


# -- result ------------------------------------------------------------------


@dataclass
class Result:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    ops: int = 0  # ops completed in the timed phase
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)


@dataclass
class OpLog:
    """Per-op timings of the timed phase of one workload."""

    op: list[float] = field(default_factory=list)
    write: list[float] = field(default_factory=list)
    read: list[float] = field(default_factory=list)
    busy_s: float = 0.0
    cpu_s: float = 0.0
    bytes_written: float = 0.0
    rows: int = 0

    @contextmanager
    def timed(self):
        """Add the block's wall time and process-tree CPU time to the log."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.busy_s += time.perf_counter() - t0
            self.cpu_s += tree_cpu_s() - c0

    def summary(self, tail: int, setup_s: float, res: Result) -> None:
        n = res.ops = len(self.op)
        ok = max(0, res.attempted - res.failed) / res.attempted if res.attempted else 0.0
        res.e2e.update(
            {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (n / self.busy_s, "1/s"),
                "op_p50_s": (median(self.op), "s"),
                "op_tail_s": (percentile(self.op, tail), "s"),
                "cpu_s_per_op": (self.cpu_s / n, "s"),
                "success_share": (ok, "share"),
                "write_p50_s": (median(self.write), "s"),
                "write_tail_s": (percentile(self.write, tail), "s"),
                "read_p50_s": (median(self.read), "s"),
                "read_tail_s": (percentile(self.read, tail), "s"),
                "bytes_written_per_row": (self.bytes_written / max(1, self.rows), "B"),
            }
        )
