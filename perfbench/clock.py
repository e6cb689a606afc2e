"""Interval timing: wall time, wall time without stolen CPU, and the CPU
time the program spent.

On a virtual machine that shares its host, two things inflate wall-clock
measurements by far more than any change worth detecting:

- the hypervisor can leave a runnable virtual CPU unscheduled; Linux
  counts that time as ``steal`` in ``/proc/stat``, and on a shared 4-vCPU
  machine it comes in bursts of 10-25% lasting minutes;
- other processes on the machine compete for its CPUs, and a Spark stage
  waits for its slowest task, so a CPU that is busy elsewhere stalls the
  whole stage.

:class:`Stopwatch` therefore reports three numbers for an interval:

- ``wall_ms``, the plain wall time;
- ``ms``, the wall time scaled by the share of the machine's runnable CPU
  time that was not stolen, ``wall × busy / (busy + steal)``, with
  ``busy`` and ``steal`` the machine-wide busy (user, nice, system, irq,
  softirq) and steal ticks over the interval;
- ``cpu_ms``, the CPU time (user + system, every thread) spent by this
  process and every process descended from it: the Spark JVM and its
  Python workers. A process does not accrue CPU time while it waits for
  a CPU, whether the hypervisor or another process holds it, so this is
  the measure least moved by the rest of the machine. It counts
  everything the program did, garbage collection included, except the
  JVM's JIT compiler threads once :func:`exclude_jit` has named them:
  their share falls with the JVM's uptime, not with the work measured.

What none of the three removes is the host running a core faster or
slower for minutes at a time; :func:`reference_ms` gives an indicator
of that. Where ``/proc`` cannot be read, ``ms`` equals ``wall_ms`` and
``cpu_ms`` is 0.
"""

from __future__ import annotations

import os
import time

_BUSY_FIELDS = (0, 1, 2, 5, 6)   # user nice system irq softirq
_STEAL_FIELD = 7
_TICK_MS = 1e3 / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """Machine-wide ``(busy, steal)`` ticks since boot."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    if len(fields) <= _STEAL_FIELD:
        return 0, 0
    return sum(fields[i] for i in _BUSY_FIELDS), fields[_STEAL_FIELD]


#: ``/proc/<pid>/task/<tid>/stat`` of JIT compiler threads, whose CPU time
#: :func:`tree_cpu_ms` leaves out (see :func:`exclude_jit`)
_jit_threads: list[str] = []


def exclude_jit(jvm_pid: int) -> None:
    """Leave the JIT compiler threads of the JVM ``jvm_pid`` out of
    :func:`tree_cpu_ms` from now on. The JVM must keep a fixed set of
    compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``), or the
    time of a thread that exits would return to the total."""
    _jit_threads.clear()
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                name = f.read()
        except OSError:
            continue
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            _jit_threads.append(f"{task}/{tid}/stat")


def _ticks(path: str, fields: slice) -> tuple[int, int] | None:
    """``(ppid, sum of the stat fields)`` of a ``stat`` file."""
    try:
        with open(path) as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(rest[1]), sum(int(x) for x in rest[fields])


def tree_cpu_ms(root: int | None = None) -> float:
    """CPU time of process ``root`` (this one by default) and all its
    descendants, in ms: user + system time of every thread, plus that of
    children they have reaped, so a worker that exits still counts;
    less the time of the JIT compiler threads named by
    :func:`exclude_jit`."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _ticks(f"/proc/{name}/stat", slice(11, 15))
            if st is not None:
                parent[int(name)], ticks[int(name)] = st
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    for path in _jit_threads:
        st = _ticks(path, slice(11, 13))
        total -= st[1] if st is not None else 0
    return total * _TICK_MS


def reference_ms(rounds: int = 8) -> float:
    """CPU time this thread takes for a fixed pure-Python kernel (dict
    inserts, a sort, integer arithmetic), in ms: an indicator of how fast
    the host runs one core at the moment, independent of the engine."""
    t0 = time.thread_time_ns()
    for r in range(rounds):
        d = {}
        for i in range(6000):
            d[(i * 7919 + r) % 4093] = i
        xs = sorted(d.values(), key=lambda v: -v)
        sum(x * x for x in xs)
    return (time.thread_time_ns() - t0) / 1e6


class Stopwatch:
    """Started on construction; :meth:`stop` sets ``wall_ms``, ``ms``
    (the steal-adjusted time), ``steal_share`` and ``cpu_ms``, and
    returns self. Reading the CPU counters happens outside the wall-time
    interval."""

    def __init__(self):
        self._cpu0 = tree_cpu_ms()
        self._ticks0 = cpu_ticks()
        self._t0 = time.perf_counter()
        self.wall_ms = self.ms = self.steal_share = self.cpu_ms = 0.0

    def stop(self) -> "Stopwatch":
        self.wall_ms = 1e3 * (time.perf_counter() - self._t0)
        busy1, steal1 = cpu_ticks()
        busy = busy1 - self._ticks0[0]
        steal = steal1 - self._ticks0[1]
        self.steal_share = steal / (busy + steal) if busy + steal else 0.0
        self.ms = self.wall_ms * (1.0 - self.steal_share)
        self.cpu_ms = tree_cpu_ms() - self._cpu0
        return self
