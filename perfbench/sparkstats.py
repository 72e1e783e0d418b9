"""Read-only probes of a running Spark application: per-job-group job
count, task time and shuffle bytes from the status store, store directory
sizes, and process-tree peak RSS.

Nothing here submits a Spark job. The status store keeps stage data with
the UI disabled, so these numbers come for free after an action ends.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0


class StageLedger:
    """Attributes each executed stage to the job group that ran it, once:
    a stage reused by a later job (skipped) is not counted again."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._counted: set[int] = set()

    def set_group(self, name: str) -> None:
        self._sc.setJobGroup(name, name)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str) -> GroupStats:
        out = GroupStats()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            out.jobs += 1
            info = self._sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in self._counted:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran (skipped)
                    continue
                self._counted.add(sid)
                out.task_s += st.executorRunTime() / 1000.0
                out.shuffle_write_bytes += st.shuffleWriteBytes()
        return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, CPU ticks) of ``pid``: its utime + stime plus those of the
    children it has reaped (a Python worker that exited is billed to the
    daemon that waited for it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def process_tree(root_pid: int | None = None) -> dict[int, int]:
    """CPU ticks of every live process in the tree rooted at ``root_pid``
    (default: this process), keyed by pid.

    The tree is built from the ppid of every process in /proc, not from
    /proc/<pid>/task/<pid>/children: that file lists only the children
    forked by the thread whose tid is the pid, and the JVM starts the
    pyspark daemon from an executor thread."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(st[0], []).append(int(name))
            ticks[int(name)] = st[1]
    root = root_pid or os.getpid()
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in ticks:
            out[pid] = ticks[pid]
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds used so far by the process tree rooted at ``root_pid``
    (default: this process) — this process, its JVM, and the JVM's Python
    daemon and workers. Unlike wall time this excludes time the host took
    the CPUs away (steal)."""
    return sum(process_tree(root_pid).values()) / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the steal column of /proc/stat, summed over CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the tree
    rooted at ``root_pid`` — this process, its JVM, and the JVM's Python
    daemon and workers."""
    return sum(_hwm_kib(pid) for pid in process_tree(root_pid)) / 1024.0


def describe_tree(root_pid: int | None = None) -> str:
    """One line naming every process of the tree, for the run log."""
    names = []
    for pid in sorted(process_tree(root_pid)):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        cmd = os.path.basename(argv[0].decode(errors="replace"))
        if b"pyspark.daemon" in argv or b"pyspark.worker" in argv:
            cmd += " pyspark.daemon/worker"
        names.append(f"{pid}:{cmd}")
    return f"{len(names)} processes: " + ", ".join(names)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return total
