"""Small statistics and host-sampling helpers for the benchmark.

Pure Python so the benchmark's own tests run without Spark. Run as a
script, it is ``MemSampler``'s child process.
"""

from __future__ import annotations

import json
import os
import select
import statistics
import subprocess
import sys


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them
    (the default 'exclusive' method)."""
    if len(xs) < 2:
        x = median(xs)
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread a metric's bound is checked against."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("failed_frac needs at least one attempt")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def seconds_since_process_start() -> float:
    """Wall seconds since this process was created, from /proc (clock-tick
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - started


def host_context() -> dict:
    """Host state for screening runs made on a shared host. The CPU times
    are cumulative since boot; the share of steal between two snapshots
    is time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": _meminfo("MemAvailable") / 1024,
        "cpu_total_s": sum(cpu) / tick,
        "cpu_steal_s": (cpu[7] if len(cpu) > 7 else 0) / tick,
    }


def steal_frac(before: dict, after: dict) -> float:
    """Share of the CPU time between two ``host_context`` snapshots that
    the hypervisor stole."""
    total = after["cpu_total_s"] - before["cpu_total_s"]
    return (after["cpu_steal_s"] - before["cpu_steal_s"]) / total


def _meminfo(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    return float("nan")


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        out.append(pid)
    return out


def tree_pss_kb(root: int, skip: int | None = None) -> int:
    """Summed PSS of ``root`` and all its descendants except ``skip``, read
    from /proc. PSS splits each shared page among the processes sharing
    it, so forked Python workers are not counted once per fork."""
    total = 0
    for pid in tree_pids(root):
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(root: int, skip: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants except ``skip``, with the children each has reaped. Time
    the hypervisor steals from the VM is not in it, so on a shared host it
    moves far less than wall time does."""
    ticks = 0
    for pid in tree_pids(root):
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime .. cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class MemSampler:
    """A child process sampling the summed PSS of this process tree (the
    driver Python, the JVM it launched and the JVM's Python workers) every
    ``interval_s``. Being a child, it never holds this process's
    interpreter lock; it runs at low priority and samples once a second,
    because reading the JVM's page tables costs about 25 ms of CPU.
    ``peak_mb`` and ``samples`` are set on exit."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = float("nan")
        self.samples = 0

    def __enter__(self) -> "MemSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()),
             str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.pid = self._proc.pid
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=60)  # EOF on stdin stops it
        got = json.loads(out)
        self.peak_mb, self.samples = got["peak_kb"] / 1024, got["samples"]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def count_files(path: str) -> tuple[int, int]:
    """(files, directories) under ``path``."""
    n_files = n_dirs = 0
    for _, dirs, files in os.walk(path):
        n_files += len(files)
        n_dirs += len(dirs)
    return n_files, n_dirs


if __name__ == "__main__":
    # MemSampler's child: sample until stdin reaches EOF, then report
    root, interval = int(sys.argv[1]), float(sys.argv[2])
    os.nice(10)
    peak = n = 0
    while not select.select([sys.stdin], [], [], interval)[0]:
        peak = max(peak, tree_pss_kb(root, skip=os.getpid()))
        n += 1
    print(json.dumps({"peak_kb": peak, "samples": n}))
