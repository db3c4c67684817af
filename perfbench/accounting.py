"""Layer accounting for the benchmark: spans, Spark job/stage deltas,
table disk census and peak memory.

Everything here is read from outside the package, around the calls the
benchmark makes into it:

- job and stage counts come from the driver's DAGScheduler id counters
  (``nextJobId``/``nextStageId``): every job and stage submitted during a
  call gets an id in ``[start, end)``, whichever thread submitted it;
- per-stage task counts, executor run time, shuffle, spill, input rows
  and output bytes come from the status store
  (``statusStore().lastStageAttempt``), after draining the listener
  bus. Both work with ``spark.ui.enabled=false``;
- a table's disk footprint is a walk of its directory;
- peak memory (``VmHWM``) and CPU time (``utime + stime``) come from
  ``/proc`` for the driver Python process and the JVM it launched.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator

from py4j.protocol import Py4JJavaError

_RAN = ("COMPLETE", "FAILED")


@dataclass
class Counts:
    """Spark work done during one call."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0

    def __iadd__(self, other: Counts) -> Counts:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)
        return self


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int


class SparkCounters:
    """Job and stage deltas between two :class:`Mark`s of one session."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    def mark(self) -> Mark:
        return Mark(int(self._dag.nextJobId()), int(self._dag.nextStageId()))

    def since(self, start: Mark) -> Counts:
        """Work submitted since ``start``. Stages that were skipped
        (their shuffle output already existed) are not counted."""
        end = self.mark()
        self._sc.listenerBus().waitUntilEmpty()
        c = Counts(jobs=end.job - start.job)
        for sid in range(start.stage, end.stage):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # created but never registered
                continue
            if s.status().toString() not in _RAN:
                continue
            c.stages += 1
            c.tasks += s.numTasks()
            c.executor_run_s += s.executorRunTime() / 1000.0
            c.shuffle_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.diskBytesSpilled()
            c.input_rows += s.inputRecords()
            c.output_bytes += s.outputBytes()
        return c


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: Counts | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Times benchmark calls. With ``counters`` set and ``enabled`` true
    it also records a span per call, with the call's Spark work; spans
    stay in memory until :meth:`dump`."""

    run_id: str
    counters: SparkCounters | None = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    # Time spent reading the Spark counters: the tracing overhead.
    overhead_s: float = 0.0
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        traced = self.enabled and self.counters is not None
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, self.run_id, len(self.spans), parent, 0.0)
        if traced:
            self.spans.append(sp)
            self._stack.append(sp)
            t = time.perf_counter()
            mark = self.counters.mark()
            self.overhead_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if traced:
                self._stack.pop()
                sp.counts = self.counters.since(mark)
                self.overhead_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + s.wall_s
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.wall_s - child_s.get(s.span_id, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = {
                    "name": s.name,
                    "run_id": s.run_id,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "counts": asdict(s.counts) if s.counts else None,
                }
                fh.write(json.dumps(rec) + "\n")


def table_census(path: str) -> dict[str, int]:
    """Disk footprint of a VersionedTable directory: retained manifests,
    data directories, parquet files and total bytes (all versions)."""
    manifests = os.path.join(path, "_manifests")
    data = os.path.join(path, "data")
    n_bytes = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            n_bytes += os.path.getsize(os.path.join(root, n))
            if root.startswith(data) and n.endswith(".parquet"):
                files += 1
    return {
        "versions": sum(f.endswith(".json") for f in os.listdir(manifests)),
        "data_dirs": len(os.listdir(data)),
        "files": files,
        "bytes": n_bytes,
    }


def cpu_clock(pids: tuple[int | str, ...]) -> Callable[[], float]:
    """A clock reading the user + system CPU seconds the processes have
    used. Unlike wall time it does not count time the host withheld
    from this machine's CPUs (steal)."""
    tick = os.sysconf("SC_CLK_TCK")

    def read() -> float:
        total = 0
        for pid in pids:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        return total / tick

    return read


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from ``/proc/stat``:
    steal is time the host ran something else while this machine's
    CPUs wanted to run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of the Spark JVM."""
    return _hwm_kb("self") / 1024.0, _hwm_kb(jvm_pid(spark)) / 1024.0
