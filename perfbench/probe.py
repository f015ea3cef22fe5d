"""Outside-in probes: what Spark, Catalyst and the operating system report
about an op, read from the benchmark's side without changing the engine.

- Spark: every op (and, in a traced run, every span) runs under its own
  job group; afterwards the group's jobs are looked up in the status
  tracker and their stages in the application status store, which stays
  populated with the UI disabled.
- Catalyst: phase durations from the collected DataFrame's
  `queryExecution().tracker()`. Eager inner jobs that the engine runs
  while building a plan have their own query executions and are not
  included; their time shows in the span that launched them.
- Process: CPU time of the JVM, of the Python workers it forked, and of
  this driver process, from /proc; the JVM's peak resident set.
"""

from __future__ import annotations

import os
import time

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
CATALYST_PHASES = ("analysis", "optimization", "planning")
_TICK = os.sysconf("SC_CLK_TCK")


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_metrics(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        seen: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in list(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(int(sid))
                done = sd.numCompleteTasks()
                if done == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += done
                out["task_run_ms"] += sd.executorRunTime()
                out["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK
    return ppid, cpu


class ProcSampler:
    """CPU seconds used so far by the JVM (its own threads), by the
    JVM's descendant Python workers, and by this driver process."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, float]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        workers = 0.0
        todo = list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            workers += stats[pid][1]
            todo.extend(children.get(pid, []))
        jvm = 0.0
        try:
            with open(f"/proc/{self.jvm_pid}/stat") as fh:
                raw = fh.read()
            f = raw[raw.rindex(")") + 2 :].split()
            jvm = (int(f[11]) + int(f[12])) / _TICK
        except OSError:
            pass
        t = os.times()
        return {
            "t": time.perf_counter(),
            "jvm": jvm,
            "pyworker": workers,
            "driver": t.user + t.system,
        }

    def peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0
