"""The benchmark's arithmetic, free of Spark so it can be tested on canned
inputs: percentiles, the failure ratio, process-tree CPU and peak memory
read from ``/proc``, and the fold of a Spark event log into per-job-group
task metrics.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterable
from dataclasses import dataclass, fields

# ---------------------------------------------------------------- percentiles


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 <= q <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` ranked samples lie above the ``q``-th percentile."""
    return n - math.ceil(n * q / 100)


def tail_percentile(
    values: list[float],
    ranks: tuple[float, ...] = (99, 90, 75),
    min_beyond: int = 10,
) -> tuple[float, float] | None:
    """(rank, value) of the highest rank in ``ranks`` that has at least
    ``min_beyond`` samples beyond it, or None when no rank qualifies. A
    percentile with fewer samples beyond it is one or two observations,
    not a tail."""
    for q in sorted(ranks, reverse=True):
        if samples_beyond(len(values), q) >= min_beyond:
            return q, percentile(values, q)
    return None


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


# ---------------------------------------------------------------- /proc


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime
    start_ticks: int


def parse_proc_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so the fixed fields are counted from its last ')'."""
    pid = int(text[: text.index("(")])
    comm = text[text.index("(") + 1 : text.rindex(")")]
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); field n sits at rest[n - 3]
    ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))  # fields 14-17
    return ProcStat(pid, int(rest[1]), comm, ticks, int(rest[19]))  # 4, 22


def read_proc_stats(proc: str = "/proc") -> dict[int, ProcStat]:
    out: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                out[int(name)] = parse_proc_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
    return out


def descendants(stats: dict[int, ProcStat], root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for s in stats.values():
        children.setdefault(s.ppid, []).append(s.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_ticks(stats: dict[int, ProcStat], root: int) -> int:
    """CPU ticks of the process tree under ``root``. A child that exited
    and was reaped inside the tree is in its parent's cutime/cstime, so
    the sum over live processes misses nothing and counts nothing twice."""
    return sum(stats[pid].cpu_ticks for pid in descendants(stats, root))


def tree_cpu_seconds(root: int | None = None) -> float:
    ticks = tree_cpu_ticks(read_proc_stats(), root or os.getpid())
    return ticks / os.sysconf("SC_CLK_TCK")


def process_start_epoch(stat: ProcStat, boot_epoch: float, clk_tck: int) -> float:
    return boot_epoch + stat.start_ticks / clk_tck


def parse_cpu_steal(stat_text: str) -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from ``/proc/stat``'s first line:
    time a virtual machine's CPUs were runnable but ran someone else."""
    fields = [int(x) for x in stat_text.splitlines()[0].split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def cpu_steal(proc: str = "/proc") -> tuple[int, int]:
    with open(os.path.join(proc, "stat")) as fh:
        return parse_cpu_steal(fh.read())


def boot_epoch(proc: str = "/proc") -> float:
    with open(os.path.join(proc, "stat")) as fh:
        for line in fh:
            if line.startswith("btime "):
                return float(line.split()[1])
    raise RuntimeError("no btime in /proc/stat")


def self_start_epoch() -> float:
    with open(f"/proc/{os.getpid()}/stat") as fh:
        stat = parse_proc_stat(fh.read())
    return process_start_epoch(stat, boot_epoch(), os.sysconf("SC_CLK_TCK"))


def parse_vm_hwm_kb(status_text: str) -> int:
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise ValueError("no VmHWM line")


def peak_rss_mb(pids: Iterable[int]) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += parse_vm_hwm_kb(fh.read())
    return kb / 1024


def jvm_pids(stats: dict[int, ProcStat], root: int) -> list[int]:
    return [p for p in descendants(stats, root) if stats[p].comm == "java"]


# ---------------------------------------------------------------- event log


@dataclass
class TaskTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0  # executor CPU time
    run_s: float = 0.0  # executor run time
    shuffle_mb: float = 0.0  # shuffle bytes written
    spill_mb: float = 0.0  # bytes spilled to disk

    def add(self, other: TaskTotals) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


NO_GROUP = "(none)"
MB = 1024 * 1024


def _group(props: dict | None, aliases: dict[str, str]) -> str:
    g = (props or {}).get("spark.jobGroup.id") or NO_GROUP
    return aliases.get(g, g)


def fold_event_log(
    lines: Iterable[str], aliases: dict[str, str] | None = None
) -> dict[str, TaskTotals]:
    """Fold a JSON-lines Spark event log into task totals per job group.

    ``aliases`` renames groups: a streaming query runs its micro-batch
    jobs under its ``runId`` as the job group, not under the caller's, so
    the caller maps that id to a layer name here. A task is charged to
    the group whose job submitted its stage; a stage listed by several
    jobs (skipped re-use) stays with the first."""
    aliases = aliases or {}
    stage_group: dict[int, str] = {}
    totals: dict[str, TaskTotals] = {}

    def at(g: str) -> TaskTotals:
        return totals.setdefault(g, TaskTotals())

    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(e.get("Properties"), aliases)
            at(g).jobs += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = _group(e.get("Properties"), aliases)
            stage_group[sid] = g
            at(g).stages += 1
        elif kind == "SparkListenerTaskEnd":
            t = at(stage_group.get(e["Stage ID"], NO_GROUP))
            m = e.get("Task Metrics") or {}
            t.tasks += 1
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.run_s += m.get("Executor Run Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / MB
            t.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
    return totals


def fold_event_log_dir(path: str, aliases: dict[str, str] | None = None) -> dict[str, TaskTotals]:
    """Fold every (uncompressed) event log file under ``path``."""
    totals: dict[str, TaskTotals] = {}
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            with open(os.path.join(root, name)) as fh:
                for g, t in fold_event_log(fh, aliases).items():
                    totals.setdefault(g, TaskTotals()).add(t)
    return totals


def merged(totals: dict[str, TaskTotals], groups: Iterable[str]) -> TaskTotals:
    out = TaskTotals()
    for g in groups:
        if g in totals:
            out.add(totals[g])
    return out
