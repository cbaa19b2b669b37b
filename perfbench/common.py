"""Shared pieces of the three workloads: the run context, the closed
loop, byte accounting and small statistics."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    """One operation of a timed loop (a lane or a query): its latency,
    and the CPU time (`tree_cpu_s`) the process tree spent meanwhile."""

    kind: str
    latency_s: float
    ok: bool
    cpu_s: float = 0.0


@dataclass
class Ctx:
    """What a workload needs from the harness; `layer` collects the
    per-layer values the workload measures itself, `setup_spans` the
    spans it traced during set-up (only when `trace` is on)."""

    spark: object
    seed: int
    run_dir: str
    data_dir: str
    cores: int
    trace: bool = False
    layer: dict = field(default_factory=dict)
    setup_spans: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def closed_loop(seconds: float, step, min_steps: int = 1) -> tuple[list[Op], float]:
    """One client: call ``step(i)`` (which returns a list of `Op`) again
    only after the previous call returned, until `seconds` have elapsed
    and at least `min_steps` calls were made.  A call starts only when
    the previous call's duration still fits, so a run ends near
    `seconds` instead of one whole step past it.  Returns the ops and
    the loop's wall time."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    i, last = 0, 0.0
    while True:
        elapsed = time.perf_counter() - t0
        if i >= min_steps and elapsed + last > seconds:
            break
        s0 = time.perf_counter()
        ops.extend(step(i))
        last = time.perf_counter() - s0
        i += 1
    return ops, time.perf_counter() - t0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by `root_pid` and every
    live process below it: this process, its JVM and the JVM's Python
    workers.  The kernel leaves time stolen by the hypervisor out of
    these counters, so on a shared host they vary less than wall time."""
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        # after "pid (comm) ": state ppid ... utime stime cutime cstime
        fields = raw[raw.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while stack:
        pid = stack.pop()
        total += used.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) under `path`; (0, 0) when absent."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:  # removed while walking (a rewrite in flight)
                pass
    return total, files


def user_bytes(table) -> int:
    """Bytes of user values in a pyarrow table: UTF-8 text, 8 per
    numeric cell and 4 per float32 vector element."""
    import pyarrow as pa
    import pyarrow.compute as pc

    total = 0
    for col in table.columns:
        if pa.types.is_string(col.type):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        elif pa.types.is_list(col.type):
            total += 4 * (pc.sum(pc.list_value_length(col)).as_py() or 0)
        else:
            total += 8 * len(col)
    return total
