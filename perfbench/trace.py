"""Spans around calls into the program, plus Spark's own per-stage counts.

Everything here is read from outside the program: a span is the wall time
of one call into a module's public function, and its Spark work is read
from the status store under the job group the span set.  Reading the
store runs no Spark job.  Spans and counts are kept in memory and only
turned into metrics or written out after the timed pass ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = float(1 << 20)


@dataclass
class StageTotals:
    """Status-store counts summed over the stages of a set of jobs.

    Skipped stages (a shuffle reused from an earlier job) are counted in
    no field: they did no work."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    exec_memory_sum_mb: float = 0.0
    exec_memory_peak_mb: float = 0.0

    @property
    def wait_s(self) -> float:
        """Executor run time not spent on JVM CPU: Python/Arrow workers,
        I/O and GC."""
        return self.run_s - self.cpu_s


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    group: str | None
    totals: StageTotals | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Times spans and tags their Spark jobs.

    With `traced` off, every job of a pass runs under the one job group
    the pass opened; with it on, each leaf span opens its own group.
    Jobs started from a thread the program spawns carry no group; they
    are found as the ungrouped jobs that appeared during the pass."""

    spark: object
    traced: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)
    _pass_groups: list[str] = field(default_factory=list)
    _seen_ungrouped: set[int] = field(default_factory=set)

    def __post_init__(self) -> None:
        self._seen_ungrouped = set(self._tracker().getJobIdsForGroup(None))

    def _tracker(self):
        return self.spark.sparkContext.statusTracker()

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)
        self._pass_groups.append(group)

    @contextmanager
    def span(self, name: str, leaf: bool = True):
        """Time one call.  A traced leaf span gets its own job group."""
        parent = self._stack[-1] if self._stack else None
        group = None
        if self.traced and leaf:
            group = f"{len(self.spans)}:{name}"
            self._set_group(group)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, group))

    @contextmanager
    def timed_pass(self, name: str):
        """The unit `pass_s` measures.  Yields nothing; read the pass's
        Spark totals afterwards with `pass_totals`."""
        self._pass_groups = []
        if not self.traced:
            self._set_group(f"{len(self.spans)}:{name}")
        with self.span(name, leaf=False):
            yield

    def _jobs_of(self, group: str | None) -> list[int]:
        return list(self._tracker().getJobIdsForGroup(group))

    def _new_ungrouped(self) -> list[int]:
        now = set(self._jobs_of(None))
        new = sorted(now - self._seen_ungrouped)
        self._seen_ungrouped = now
        return new

    def _wait_for_listener(self) -> None:
        # stage metrics reach the status store through the listener bus;
        # drain it so the last stage of the pass is included
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def totals_for(self, job_ids: list[int]) -> StageTotals:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = self._tracker()
        t = StageTotals(jobs=len(job_ids))
        seen: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                if s in seen:
                    continue
                seen.add(s)
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                t.stages += 1
                t.tasks += sd.numTasks()
                t.run_s += sd.executorRunTime() / 1e3
                t.cpu_s += sd.executorCpuTime() / 1e9
                t.shuffle_read_mb += sd.shuffleReadBytes() / MB
                t.shuffle_write_mb += sd.shuffleWriteBytes() / MB
                t.spill_mb += sd.diskBytesSpilled() / MB
                peak = sd.peakExecutionMemory() / MB
                t.exec_memory_sum_mb += peak
                t.exec_memory_peak_mb = max(t.exec_memory_peak_mb, peak)
        return t

    def pass_totals(self) -> StageTotals:
        """Totals over every job of the last pass, and, when traced, the
        totals of each leaf span of that pass stored on the span."""
        self._wait_for_listener()
        ungrouped = self._new_ungrouped()
        if self.traced:
            by_group = {s.group: s for s in self.spans if s.group in self._pass_groups}
            for group, span in by_group.items():
                span.totals = self.totals_for(self._jobs_of(group))
        jobs = [j for g in self._pass_groups for j in self._jobs_of(g)]
        return self.totals_for(jobs + ungrouped)

    def dump(self, path: str) -> None:
        """Write every span (name, start, end, parent, Spark totals) as
        JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "group": s.group,
                    "totals": asdict(s.totals) if s.totals else None,
                }
                f.write(json.dumps(rec) + "\n")


def layer_metrics(prefix: str, seconds: float, t: StageTotals,
                  seconds_name: str = "s") -> dict[str, float]:
    """The per-layer metric set of one traced boundary, by name."""
    return {
        f"{prefix}.{seconds_name}": seconds,
        f"{prefix}.jobs": t.jobs,
        f"{prefix}.stages": t.stages,
        f"{prefix}.tasks": t.tasks,
        f"{prefix}.cpu_s": t.cpu_s,
        f"{prefix}.wait_s": t.wait_s,
    }
