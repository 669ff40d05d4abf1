"""Measurement helpers shared by the workloads: the tail sample-count
rule, the timed round count, byte accounting, host readers (steal,
process-tree CPU) and the top-k result comparator.  They work on plain data, so they are tested
without Spark (see test_measure.py)."""

from __future__ import annotations

import math
import os

# A reported tail percentile must have at least this many samples beyond it.
MIN_TAIL_SAMPLES = 10


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile
    position: the tail a p-percentile actually rests on."""
    if n <= 0:
        return 0
    return (n - 1) - math.floor((n - 1) * p / 100.0)


def tail_supported(n: int, p: float) -> bool:
    """True when the ``p``-th percentile of ``n`` samples has at least
    MIN_TAIL_SAMPLES samples beyond it (p90 needs n >= 92)."""
    return samples_beyond(n, p) >= MIN_TAIL_SAMPLES


def timed_rounds(seconds: float, seconds_per_round: float, minimum: int) -> int:
    """Rounds a run times: one per ``seconds_per_round`` of ``seconds``, at
    least ``minimum``.  The count follows from the arguments, never from the
    clock, so a faster or slower host or commit times the same mix."""
    return max(minimum, int(seconds // seconds_per_round))


def file_sizes(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root`` (links
    are not followed, so nothing outside the tree is counted)."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            full = os.path.join(dirpath, name)
            if os.path.islink(full) or not os.path.isfile(full):
                continue
            out[os.path.relpath(full, root)] = os.path.getsize(full)
    return out


class WriteLedger:
    """Bytes of files created under a directory since a baseline snapshot.

    ``observe()`` is called after each call that may write; every path that
    was not in the baseline is counted once, at the largest size seen, even
    if a later merge or GC deletes it again.  Files created and deleted
    between two observations are not seen."""

    def __init__(self, root: str):
        self.root = root
        self.baseline = file_sizes(root)
        self.created: dict[str, int] = {}

    def observe(self) -> None:
        for path, size in file_sizes(self.root).items():
            if path in self.baseline:
                continue
            if size > self.created.get(path, -1):
                self.created[path] = size

    @property
    def bytes_written(self) -> int:
        return sum(self.created.values())


def text_bytes(texts) -> int:
    """UTF-8 bytes of the indexed ``text`` values (None counts as empty)."""
    return sum(len(t.encode("utf-8")) for t in texts if t is not None)


def steal_seconds(proc_stat: str, clk_tck: int) -> float:
    """Cumulative steal time of all CPUs from the text of ``/proc/stat``:
    the eighth value of the aggregate ``cpu`` line, in clock ticks."""
    for line in proc_stat.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            if len(fields) < 9:
                return 0.0  # kernels without a steal column report none
            return int(fields[8]) / clk_tck
    raise ValueError("no aggregate cpu line in /proc/stat text")


def read_steal_seconds() -> float:
    """Steal seconds so far on this host; 0.0 where ``/proc/stat`` is absent."""
    try:
        with open("/proc/stat") as f:
            text = f.read()
    except OSError:
        return 0.0
    return steal_seconds(text, os.sysconf("SC_CLK_TCK"))


def parse_proc_stat(line: str) -> tuple[int, int, int]:
    """(pid, ppid, utime+stime+cutime+cstime in ticks) from one
    ``/proc/<pid>/stat`` line.  The command name may hold spaces and
    parentheses, so fields are counted from its closing parenthesis."""
    pid = int(line[: line.index(" ")])
    rest = line[line.rindex(")") + 2 :].split()
    # rest[0] is the state (field 3); ppid is field 4, utime..cstime 14..17
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return pid, ppid, ticks


def tree_cpu_ticks(stats: list[str], root_pid: int) -> int:
    """CPU ticks of ``root_pid`` and all its descendants.  Children that
    already exited and were waited for are in their parent's cutime/cstime."""
    parsed = [parse_proc_stat(s) for s in stats]
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for pid, ppid, t in parsed:
        children.setdefault(ppid, []).append(pid)
        ticks[pid] = t
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


def read_tree_cpu_seconds(root_pid: int | None = None) -> float:
    """Process-tree CPU seconds (user + system) of this process, the Spark
    JVM and its Python workers; 0.0 where ``/proc`` is absent."""
    stats = []
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                stats.append(f.read())
        except OSError:
            continue  # exited while we listed
    root = os.getpid() if root_pid is None else root_pid
    return tree_cpu_ticks(stats, root) / os.sysconf("SC_CLK_TCK")


def compare_topk(
    got: list[tuple[int, float]],
    want: list[tuple[int, float]],
    score_tol: float = 1e-9,
) -> str | None:
    """None when ``got`` ranks the same doc ids in the same order as
    ``want`` with every score within ``score_tol``; otherwise a one-line
    description of the first difference."""
    gd = [d for d, _ in got]
    wd = [d for d, _ in want]
    if gd != wd:
        return f"doc ids differ: got {gd} want {wd}"
    for (d, gs), (_, ws) in zip(got, want):
        if not abs(gs - ws) <= score_tol:
            return f"score of doc {d} differs: got {gs!r} want {ws!r}"
    return None
