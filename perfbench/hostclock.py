"""A clock that does not count the time the host took this VM's CPUs away.

On a shared host the hypervisor runs other tenants on the CPUs this VM
asked for; Linux reports that time as ``steal`` in /proc/stat.  A pass
that lost a quarter of its CPU time that way reads a third slower on a
wall clock, though the program did the same work.  ``HostClock`` advances
like ``time.perf_counter`` times busy / (busy + steal) over the last
sampling interval: the share of the CPU time the VM asked for that it got.
Idle time does not slow it, so waits on I/O or sleeps count in full.
"""

from __future__ import annotations

import threading
import time


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class HostClock:
    """Seconds of wall time with the host's steal time taken out.  A thread
    samples /proc/stat every ``interval_s`` until ``close``."""

    def __init__(self, interval_s: float = 0.02):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._t = time.perf_counter()
        self._busy, self._steal = _cpu_ticks()
        self._net = 0.0    # clock reading at self._t
        self._rate = 1.0   # share of asked-for CPU time got, last interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def now(self) -> float:
        with self._lock:
            return self._net + (time.perf_counter() - self._t) * self._rate

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self) -> None:
        t = time.perf_counter()
        busy, steal = _cpu_ticks()
        asked = (busy - self._busy) + (steal - self._steal)
        rate = (busy - self._busy) / asked if asked else 1.0
        with self._lock:
            self._net += (t - self._t) * rate
            self._t, self._busy, self._steal = t, busy, steal
            self._rate = rate
