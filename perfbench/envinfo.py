"""Host evidence recorded next to every measurement: CPU steal, load and
core count, and the peak resident memory of a process tree.

This is the benchmark's single reader of these counters.  Steal comes from
``/proc/stat`` field 8 of the aggregate ``cpu`` line (user nice system idle
iowait irq softirq **steal** guest guest_nice); field 9 is guest time.
"""

from __future__ import annotations

import os

STEAL_FIELD = 8  # 1-based, counting the fields after the "cpu" label


def parse_steal(proc_stat: str) -> int:
    """Cumulative steal ticks from the text of ``/proc/stat``."""
    for line in proc_stat.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            if len(fields) <= STEAL_FIELD:
                raise ValueError(f"/proc/stat cpu line has no steal field: {line!r}")
            return int(fields[STEAL_FIELD])
    raise ValueError("/proc/stat has no aggregate cpu line")


def read_steal() -> int:
    with open("/proc/stat") as f:
        return parse_steal(f.read())


def snapshot() -> dict:
    """Steal ticks (cumulative), 1-minute load and usable cores, now."""
    return {
        "steal_ticks": read_steal(),
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
    }


def children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:  # thread exited while listing
            pass
    return out


def peak_rss_kb(pid: int) -> int:
    """``VmHWM`` (peak resident set) of one process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"/proc/{pid}/status has no VmHWM")
