"""Measurements taken from outside the engine.

- ``CpuMeter``: CPU seconds of the three process groups of a local-mode
  run, read so that a delta can never go backwards unnoticed:
  the Python driver from ``getrusage(RUSAGE_SELF)``, the JVM from its
  own ``/proc/<pid>/stat`` (pid asked of the JVM over py4j), and the
  Python workers as the JVM's live descendants plus the reaped
  children credited to the JVM (cutime + cstime).
- ``jvm_pool_peaks_mb``: the peak used size of every JVM memory pool
  (heap and non-heap) as the JVM reports it.
- ``retained_mem_mb``: the driver's VmHWM, plus the JVM's heap and
  non-heap memory in use after full collections have stopped freeing
  any, plus the VmHWM of the live Python workers. The JVM's own VmHWM is not used: it follows the
  heap the collector chose to commit, not what the engine holds.
- ``Py4jCounter``: counts py4j round trips from this process.
- ``StageStats``: per job group, the jobs, stages, tasks and stage
  metrics Spark's own status store recorded.
"""

from __future__ import annotations

import os
import resource
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


class InvalidMeasurement(RuntimeError):
    """A probe read that cannot be turned into a number."""


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own ticks utime+stime, reaped-children ticks)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                data = f.read()
        except OSError:
            continue
        rest = data[data.rindex(")") + 2:].split()
        out[int(p)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]),
            int(rest[13]) + int(rest[14]),
        )
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


@dataclass
class CpuSample:
    driver: float
    jvm: float
    pyworker: float

    def __add__(self, o: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver + o.driver, self.jvm + o.jvm, self.pyworker + o.pyworker
        )


class CpuMeter:
    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> CpuSample:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        table = _proc_table()
        if self.jvm_pid not in table:
            raise InvalidMeasurement(f"JVM pid {self.jvm_pid} not in /proc")
        _, jvm_own, jvm_reaped = table[self.jvm_pid]
        workers = jvm_reaped + sum(
            table[p][1] + table[p][2]
            for p in descendants(self.jvm_pid, table)
        )
        return CpuSample(
            ru.ru_utime + ru.ru_stime, jvm_own / _CLK, workers / _CLK
        )

    @staticmethod
    def delta(a: CpuSample, b: CpuSample) -> CpuSample:
        """b - a, refusing a negative component. A worker that exits and
        is reaped by a process outside the JVM's tree would take its CPU
        with it and show up here as a negative delta."""
        d = CpuSample(b.driver - a.driver, b.jvm - a.jvm, b.pyworker - a.pyworker)
        for name, v in vars(d).items():
            if v < 0:
                raise InvalidMeasurement(f"negative CPU delta for {name}: {v}")
        return d


def _vmhwm_kb(pid: int) -> int | None:
    """None for a process without memory: exited, or a zombie."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def jvm_pool_peaks_mb(spark) -> dict[str, float]:
    """Peak used MB of every JVM memory pool since the JVM started."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    out = {}
    for i in range(pools.size()):
        p = pools.get(i)
        out[p.getName()] = p.getPeakUsage().getUsed() / (1024.0 * 1024.0)
    return out


def retained_mem_mb(spark, jvm_pid: int) -> float:
    kb = _vmhwm_kb(os.getpid())
    if kb is None:
        raise InvalidMeasurement("no VmHWM for the driver")
    workers = sum(_vmhwm_kb(p) or 0 for p in descendants(jvm_pid))
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def used_after_gc() -> float:
        jvm.java.lang.System.gc()
        return (
            mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        ) / (1024.0 * 1024.0)

    # a collection lets Spark's ContextCleaner drop the broadcasts and
    # shuffles it found unreachable, which the next collection frees:
    # collect until two readings agree
    used = used_after_gc()
    for _ in range(8):
        time.sleep(0.3)
        prev, used = used, used_after_gc()
        if abs(prev - used) <= 1.0:
            break
    return (kb + workers) / 1024.0 + used


class Py4jCounter:
    """Counts every command this process sends over the py4j client.
    Installed on the client instance, so it sees the round trips of
    PySpark's own wrappers as well as direct JVM calls."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted

    def uninstall(self) -> None:
        self._client.__dict__.pop("send_command", None)


@dataclass
class StageStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    #: (start, end epoch seconds, tasks) of each completed stage
    intervals: list[tuple[float, float, int]] = field(default_factory=list)
    #: submission epoch seconds of each job
    job_starts: list[float] = field(default_factory=list)

    def add(self, o: "StageStats") -> None:
        for k, v in vars(o).items():
            if isinstance(v, list):
                getattr(self, k).extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


class StatusStore:
    """Reads Spark's AppStatusStore for the jobs of one job group."""

    _MB = 1024.0 * 1024.0

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def group(self, group_id: str) -> StageStats:
        # the listener bus is asynchronous: drain it so the store holds
        # every event of the group's finished jobs
        self._bus.waitUntilEmpty()
        st = StageStats()
        seen: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group_id):
            st.jobs += 1
            job = self._store.job(job_id)
            sub = job.submissionTime()
            if sub.isDefined():
                st.job_starts.append(sub.get().getTime() / 1e3)
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:  # a stage shared by two jobs of the group
                    continue
                seen.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    st.stages += 1
                    st.tasks += sd.numCompleteTasks()
                    st.executor_run_s += sd.executorRunTime() / 1e3
                    st.executor_cpu_s += sd.executorCpuTime() / 1e9
                    st.gc_s += sd.jvmGcTime() / 1e3
                    st.shuffle_write_mb += sd.shuffleWriteBytes() / self._MB
                    st.shuffle_read_mb += sd.shuffleReadBytes() / self._MB
                    st.spill_mb += sd.diskBytesSpilled() / self._MB
                    st.input_mb += sd.inputBytes() / self._MB
                    st.input_rows += sd.inputRecords()
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        st.intervals.append((
                            sub.get().getTime() / 1e3,
                            done.get().getTime() / 1e3,
                            sd.numCompleteTasks(),
                        ))
        return st
