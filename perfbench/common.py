"""Result record, CPU accounting and summary statistics shared by the
workloads."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

# the program layers a step's spans are attributed to; each workload
# calls some of them and reports a zero share for the others
LAYERS = ("build", "exec", "source", "join", "agg", "sink")


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    # CPU seconds of the program's own set-up after the session has
    # started (table loads, operator construction, warm-up); the input
    # generator's time is not in it
    setup_cpu: float = 0.0
    # name -> (value, unit): the metrics BENCHMARK.json declares
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    # name -> (value, unit): workload-specific detail, printed above the
    # result line under the names the workload's documentation uses
    report: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)


_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str) -> tuple[int, int] | None:
    """(ppid, utime + stime + cutime + cstime) from a /proc stat file."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited while listed
    # after the command: state, ppid, ..., utime at index 11
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        got = _ticks(f"/proc/{pid}/task/{tid}/stat")
        total += got[1] if got else 0
    return total


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and every process below
    it (the Spark JVM, its Python workers, and the exited children each
    has reaped), less the JVM's JIT compiler threads.

    The end-to-end times are CPU times because on a shared virtual
    machine the host steals a varying share of the cores (up to a
    third, measured), which moves wall-clock times by more than any
    useful bound; time a process is not running is not CPU time. The
    price: time spent waiting (on disk I/O, fsync, locks, idle cores)
    is not CPU time either, so a change that only adds waiting does not
    show in these figures, only in the wall-clock report lines. JIT
    compilation runs on background threads whenever HotSpot decides,
    so it is left out; the JVM is started with a fixed set of compiler
    threads (see run.py) so none exits with its time uncounted."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            got = _ticks(f"/proc/{name}/stat")
            if got is not None:
                procs[int(name)] = got
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][1]
            if pid != os.getpid():
                try:
                    total -= _jit_ticks(pid)
                except OSError:
                    pass  # exited while listed
        todo.extend(children.get(pid, ()))
    return total / _TICK


def steal_seconds() -> float:
    """CPU seconds the host has taken from this machine's cores so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def median(xs) -> float:
    return float(statistics.median(xs))


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs (0.0 with fewer than two xs)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def spans_summary(spans, cores: int) -> dict:
    """Spark work of the spans of one step (a warm pass, an epoch)."""
    wall = sum(s.seconds for s in spans)
    run = sum(s.executor_run_s for s in spans)
    return {
        "step.jobs": (sum(s.jobs for s in spans), "count"),
        "step.tasks": (sum(s.tasks for s in spans), "count"),
        "step.executor_run_s": (run, "s"),
        "step.input_bytes": (sum(s.input_bytes for s in spans), "bytes"),
        "step.shuffle_bytes": (sum(s.shuffle_bytes for s in spans), "bytes"),
        "step.spill_bytes": (sum(s.spill_bytes for s in spans), "bytes"),
        "step.slot_util": (run / (wall * cores) if wall else 0.0, "ratio"),
        "step.driver_share": (
            1.0 - sum(s.job_wall_s for s in spans) / wall if wall else 0.0,
            "ratio"),
    }


def layer_shares(shares: dict) -> dict:
    """`layer.<name>_share` for every layer in LAYERS (0.0 for a layer
    the workload does not call)."""
    return {f"layer.{n}_share": (shares.get(n, 0.0), "ratio") for n in LAYERS}
