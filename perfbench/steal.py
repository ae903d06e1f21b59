"""CPU time the host takes from this machine, read from ``/proc/stat``.

On a virtual machine that shares its host with other guests, a vCPU that is
ready to run sometimes waits while the host runs someone else; the guest
kernel books that wait as *steal*, not as time of the thread that waited.
Steal has taken from under 1% to over 25% of the CPU time the benchmark's
threads asked for, changing from minute to minute, so raw wall times of the
same code on the same inputs spread by more than the benchmark's bounds.

The benchmark's times are therefore wall times with steal taken out: a
timed interval's wall time is scaled by the share of the CPU time its
threads asked for that the host gave them,

    busy / (busy + steal)

over all CPUs in that interval. Idle CPUs accrue no steal, so the share is
that of the CPUs that were running something. On a machine that has no
steal (bare metal, or no steal column) the share is 1 and the time is the
wall time.
"""

from __future__ import annotations

import time

# /proc/stat "cpu" columns, in clock ticks: user nice system idle iowait irq
# softirq steal ...; guest time is already inside user
_BUSY = (0, 1, 2, 5, 6)
_STEAL = 7


def sample() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot; (0, 0) where
    ``/proc/stat`` is missing or has no steal column."""
    try:
        with open("/proc/stat") as f:
            cols = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    if len(cols) <= _STEAL:
        return 0, 0
    return sum(cols[i] for i in _BUSY), cols[_STEAL]


def given_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time asked for between two samples that the host
    gave (1.0 without steal)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return busy / (busy + steal) if steal > 0 and busy > 0 else 1.0


class Interval:
    """Wall time of a ``with`` block, and that time with steal taken out."""

    def __enter__(self):
        self._t0, self._s0 = time.monotonic(), sample()
        return self

    def __exit__(self, *exc):
        self.wall = time.monotonic() - self._t0
        self.share = given_share(self._s0, sample())
        self.time = self.wall * self.share
        return False
