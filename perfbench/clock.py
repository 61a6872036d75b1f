"""The benchmark's clock: wall time that does not count CPU time the
hypervisor gave to other guests.

On a shared host the hypervisor can hold this machine's CPUs back for
minutes at a time; the guest kernel counts that time as ``steal`` in
``/proc/stat``. A pass then takes up to 1.6 times as long while the program
does the same work, and a run that falls into such a stretch is slow from
set-up to the last pass, so taking medians within a run cannot remove it.

``now()`` advances like ``time.perf_counter()``, except that each stretch
between two calls is scaled by the share of the CPUs' busy-or-stolen time in
it that was not stolen. With no steal it is exactly the wall clock, and
work the program adds always counts in full. The scaling assumes the
program is running, not waiting, while time is stolen, which holds for the
benchmark's passes: their inputs are small and local, so they are bound by
CPU.
"""

from __future__ import annotations

import time

_last: tuple[float, int, int] | None = None
_total = 0.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot: busy is user,
    nice, system, irq and softirq time (guest time is inside user)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fields[1:9])
    return user + nice + system + irq + softirq, steal


def now() -> float:
    global _last, _total
    wall = time.perf_counter()
    busy, steal = cpu_ticks()
    if _last is not None:
        d_wall, d_busy, d_steal = wall - _last[0], busy - _last[1], steal - _last[2]
        _total += d_wall * d_busy / (d_busy + d_steal) if d_busy + d_steal else d_wall
    _last = (wall, busy, steal)
    return _total
