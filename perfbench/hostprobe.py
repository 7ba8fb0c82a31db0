"""What the host was doing during a measured section, read from ``/proc``.

- ``HostSampler`` polls, on a background thread, the summed resident set of
  the Spark driver JVM and the Python processes under it (the workers and
  their daemon) and keeps the peak, plus the one-minute load average. This
  driver interpreter and its input-making children are left out, and so are
  short-lived helpers the JVM forks: right after a fork a child shows the
  JVM's whole resident heap.
- Box-wide CPU shares come from ``/proc/stat`` deltas between ``start`` and
  ``stop``: ``steal_frac`` is time the hypervisor gave to other guests,
  ``busy_frac`` is time spent running anything, both over all CPU time.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it are fixed
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def process_age_s() -> float:
    """Seconds since this process started: its ``/proc`` start tick against
    ``CLOCK_BOOTTIME``, the boot-based clock that tick counts on."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


class HostSampler:
    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_procs = 0
        self.samples = 0
        self._load: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        workers = [p for p in descendants(self.root_pid) if _comm(p).startswith("python")]
        jvm = _rss_bytes(self.root_pid)
        self.peak_rss_bytes = max(self.peak_rss_bytes, jvm + sum(map(_rss_bytes, workers)))
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_procs = max(self.peak_procs, len(workers))
        with open("/proc/loadavg") as f:
            self._load.append(float(f.read().split()[0]))
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "HostSampler":
        self._cpu0 = _cpu_times()
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("host sampler thread did not stop")
        self._sample()
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        total = sum(d[:8]) or 1  # user..steal; guest time is inside user
        idle = d[3] + d[4]
        steal = d[7] if len(d) > 7 else 0
        return {
            "steal_frac": steal / total,
            "busy_frac": (total - idle - steal) / total,
            "loadavg_1m_mean": sum(self._load) / len(self._load),
            "loadavg_1m_max": max(self._load),
            "peak_rss_mb": self.peak_rss_bytes / 2 ** 20,
            "peak_jvm_rss_mb": self.peak_jvm_bytes / 2 ** 20,
            "peak_python_processes": self.peak_procs,
            "rss_samples": self.samples,
            "rss_interval_s": self.interval_s,
        }
