"""Process-tree CPU, RSS and teardown, CPU steal, and the host stamp.

The benchmark's process tree is this interpreter, the Spark driver JVM
it launches, and the JVM's Python daemon and UDF workers. CPU of a
process that exits is folded into its parent's ``cutime/cstime`` once
the parent reaps it, so summing ``utime+stime+cutime+cstime`` over the
live tree at two instants gives the tree's CPU between them.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """PIDs of every live descendant of ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended; its parent reaps it)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2:].split()[0] != "Z"


def stop_spark(spark) -> None:
    """Stop the session, the driver JVM and every process under it (the
    Python daemon and UDF workers), and wait until each has exited."""
    from pyspark import SparkContext

    started = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # spark-submit's JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(map(alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, started):
        os.kill(pid, signal.SIGKILL)
    while any(map(alive, started)):
        time.sleep(0.1)


def _tree() -> list[int]:
    return [os.getpid(), *descendants()]


def tree_cpu_s() -> float:
    """user+sys CPU seconds of the live tree, reaped children included."""
    total = 0
    for pid in _tree():
        try:
            f = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        fields = f[f.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes() -> int:
    """Summed RSS of the tree. A child that shares its parent's address
    space (the JVM's spawn helper between fork and exec) reports the
    parent's exact vsize and rss and is skipped, or it would be counted
    twice."""
    stats = {}
    for pid in _tree():
        try:
            f = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        fields = f[f.rindex(")") + 2:].split()
        stats[pid] = (int(fields[1]), int(fields[20]), int(fields[21]))
    return _PAGE * sum(
        rss for pid, (ppid, vsize, rss) in stats.items()
        if ppid not in stats or stats[ppid][1:] != (vsize, rss))


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return fields[7], sum(fields)


def steal_pct(since: tuple[int, int]) -> float:
    steal, total = cpu_jiffies()
    return round(100.0 * (steal - since[0]) / max(total - since[1], 1), 2)


def git_commit(root: Path) -> str:
    """HEAD's commit id read from ``.git`` (no subprocess); 'unknown' in
    a checkout that is not a git repository."""
    head = root / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = root / ".git" / name
        if loose.exists():
            return loose.read_text().strip()
        for line in (root / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def host_stamp(root: Path, spark, since: tuple[int, int]) -> dict:
    """Facts that decide whether two results may be compared: numbers
    from different host epochs (core count, heap, steal) are not."""
    from perfbench.inputs import code_digest

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "steal_pct": steal_pct(since),
        "loadavg_1m": os.getloadavg()[0],
        "commit": git_commit(root),
        "code": code_digest(root),
        "unix_time": int(time.time()),
    }
