"""CPU time of the benchmark's Python driver and its Spark JVM.

Wall time on a shared virtual machine moves with whatever else the host
runs: the hypervisor takes vCPUs away (steal) for seconds or minutes at
a time, and every stage of a ``local[4]`` job waits for its slowest
task. The kernel charges a thread only the time it actually ran (with
paravirtual steal accounting, steal is left out), so the CPU time an
operation costs repeats far more closely from run to run than its wall
time does.

Each thread is read from ``/proc/<pid>/task/<tid>/schedstat`` (the
nanoseconds it has run) and billed to one of two kinds:

- ``jit``: HotSpot's JIT compiler threads (``C1 CompilerThread<n>``,
  ``C2 CompilerThread<n>``). After the first operation they mostly
  finish compiling what it started, at a pace the run's timing decides.
- ``work``: every other thread of the JVM (task threads, scheduler, RPC,
  listener bus, garbage collector) and of this Python process, plus any
  process the JVM starts (Python workers), read whole from
  ``/proc/<pid>/stat``.

A difference of two samples sums, per thread, what each thread that is
alive at the second sample ran since the first; a thread that exits in
between loses its last stretch, and one that starts counts in full.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _threads(pid: int) -> dict[str, int]:
    """``{"<pid>/<tid>": ns run}`` of every thread of ``pid``; compiler
    threads are keyed ``jit:<pid>/<tid>``."""
    out = {}
    base = f"/proc/{pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/comm") as f:
                comm = f.read()
            with open(f"{base}/{tid}/schedstat") as f:
                ns = int(f.read().split()[0])
        except (FileNotFoundError, ProcessLookupError):
            continue
        kind = "jit:" if "CompilerThre" in comm else ""
        out[f"{kind}{pid}/{tid}"] = ns
    return out


def _descendants(pid: int) -> list[int]:
    todo, found = [pid], []
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue
            found += kids
            todo += kids
    return found


def _process_ns(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid`` in nanoseconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) * 1_000_000_000 // _TICK


class CpuMeter:
    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, int]:
        out = _threads(os.getpid())
        out.update(_threads(self.jvm_pid))
        for p in _descendants(self.jvm_pid):
            try:
                out[f"proc:{p}"] = _process_ns(p)
            except (FileNotFoundError, ProcessLookupError):
                continue
        return out

    @staticmethod
    def diff(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
        """CPU seconds run between two samples, as ``{"work", "jit"}``."""
        got = {"work": 0, "jit": 0}
        for k, ns in after.items():
            got["jit" if k.startswith("jit:") else "work"] += ns - before.get(k, 0)
        return {k: v / 1e9 for k, v in got.items()}


def machine_cpu() -> list[int]:
    """The machine's CPU time in ticks: user, nice, system, idle, iowait,
    irq, softirq, steal (first line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``machine_cpu()``
    samples that the hypervisor gave to other guests."""
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else 0.0
