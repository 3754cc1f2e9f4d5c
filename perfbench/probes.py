"""Measurements taken from outside the program: Spark's own stage counters
(the AppStatusStore), the JVM's ``/proc/<pid>/io`` and ``/proc/<pid>/status``,
and the benchmark's spans.

Scan bytes come from ``rchar`` of the driver JVM, never from the stage
``inputBytes`` or Hadoop FileSystem statistics: on a local filesystem both
of those report the same few kilobytes for a full scan and a two-field
pruned scan.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

#: stage-counter names, as reported (``spark.<name>``)
STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
    "jobs",
    "tasks",
    "input_records",
)


def spark_jvms() -> List[int]:
    """Pids of the live Spark JVMs on this machine that this process can see."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(b"org.apache.spark" in a for a in argv):
            pids.append(int(entry))
    return pids


def _proc_field(path: str, key: str) -> int:
    with open(path) as fh:
        for line in fh:
            if line.startswith(key):
                return int(line.split()[1])
    raise KeyError(f"{key} not in {path}")


def rchar(pid: int) -> int:
    """Bytes the process has read through read-like syscalls."""
    return _proc_field(f"/proc/{pid}/io", "rchar:")


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds the process has used.  Time the
    hypervisor stole from the machine is not in it, so it moves far less
    than wall time when other machines share the host."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of the process, in MiB."""
    return _proc_field(f"/proc/{pid}/status", "VmHWM:") / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class StageCounters:
    """Sums of the AppStatusStore's stage and job counters since the last
    :meth:`mark`.  Stage and job ids grow monotonically, so a delta is taken
    over the ids above the ones already seen."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = sc._jvm
        self._stage_mark = -1
        self._job_mark = -1
        self.mark()

    def _drain(self) -> None:
        # stage-completion events reach the store through the listener bus
        # after the action returns; wait until it has delivered them
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        store = self._store
        return store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )

    def _job_ids(self) -> List[int]:
        jobs = self._store.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def mark(self) -> None:
        self._drain()
        stages = self._stages()
        for i in range(stages.size()):
            self._stage_mark = max(self._stage_mark, stages.apply(i).stageId())
        self._job_mark = max([self._job_mark] + self._job_ids())

    def delta(self) -> Dict[str, float]:
        """Counters of the stages and jobs started since the last mark;
        moves the mark."""
        self._drain()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        stages = self._stages()
        top = self._stage_mark
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self._stage_mark:
                continue
            top = max(top, st.stageId())
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["tasks"] += st.numCompleteTasks()
            out["input_records"] += st.inputRecords()
        self._stage_mark = top
        new_jobs = [j for j in self._job_ids() if j > self._job_mark]
        out["jobs"] = float(len(new_jobs))
        self._job_mark = max([self._job_mark] + new_jobs)
        return out


@dataclass
class Span:
    name: str
    run_id: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    counters: Dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A disabled tracer records nothing and reads no counter.  An enabled one
    reads the stage counters and the JVM's ``rchar`` at every span boundary
    and charges what accrued since the previous read to every span open at
    the time, so a parent's counters include its children's."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._counters: Optional[StageCounters] = None
        self._pid: Optional[int] = None
        self._rchar = 0

    def attach(self, spark) -> None:
        """Read counters from this session's JVM from now on."""
        if self.enabled:
            self._pid = spark.sparkContext._gateway.proc.pid
            self._counters = StageCounters(spark)
            self._rchar = rchar(self._pid)

    def detach(self) -> None:
        """Stop reading counters, before the session's JVM goes away."""
        self._flush()
        self._counters = None

    def _flush(self) -> None:
        if self._counters is None:
            return
        got = self._counters.delta()
        now = rchar(self._pid)
        got["rchar"] = float(now - self._rchar)
        self._rchar = now
        for ix in self._stack:
            c = self.spans[ix].counters
            for k, v in got.items():
                c[k] = c.get(k, 0.0) + v

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        self._flush()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._flush()
            self._stack.pop()
            sp.end = time.perf_counter()

    def named(self, name: str) -> List[Span]:
        """The closed spans called ``name``, in the order they opened."""
        return [sp for sp in self.spans if sp.name == name and sp.end]

    def records(self) -> List[dict]:
        """Spans as plain dicts with their self time (span time minus the
        time its direct children cover)."""
        child_s: Dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + (sp.end - sp.start)
        out = []
        for ix, sp in enumerate(self.spans):
            total = sp.end - sp.start
            out.append(
                {
                    "id": ix,
                    "name": sp.name,
                    "run_id": sp.run_id,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "total_s": total,
                    "self_s": total - child_s.get(ix, 0.0),
                    "counters": sp.counters,
                }
            )
        return out
