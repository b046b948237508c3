"""Stage ledger: Spark execution cost of one operation, read from the
driver's status store.

An operation is bracketed by two ``mark()`` calls; every job and stage
whose id is above the first mark belongs to it. This is a stage-id window,
not a job group: some operators launch jobs from pool threads that do not
inherit the caller's job group, and the benchmark runs one operation at a
time, so the window is exact.

The status store is written by a listener on Spark's asynchronous event
bus, which may still hold an operation's task and stage-completion events
when its action returns. Every read first waits for the bus to drain, so
an operation's window holds all of its stages and none of an earlier
operation's.

Counts, per operation:

- ``jobs``: jobs submitted; ``stages``: stage attempts submitted,
  including stages AQE or shuffle reuse skipped; ``tasks``: tasks that ran
  (a skipped stage runs none).
- ``run_s`` / ``cpu_s`` / ``gc_s``: executor run, CPU and GC time summed
  over tasks — task time, not elapsed time, so an idle pause between
  operations adds nothing.
- ``input_rows``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
  ``spill_bytes`` (memory + disk spill).
- ``driver_s``: wall time of the operation not covered by any of its
  stages' submit→complete intervals (planning, listing, scheduling, py4j,
  Python-side work).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_rows",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_s",
)

BUS_DRAIN_TIMEOUT_MS = 30_000


@dataclass(frozen=True)
class Mark:
    stage_id: int
    job_id: int
    wall: float


class StageLedger:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._jvm = sc._jvm

    def _stages(self):
        # The five-argument form: Scala default arguments are not visible
        # through py4j, and the one-argument call does not resolve.
        return self._store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )

    def mark(self) -> Mark:
        wall = time.time()
        self._bus.waitUntilEmpty(BUS_DRAIN_TIMEOUT_MS)
        stages, jobs = self._stages(), self._store.jobsList(None)
        return Mark(
            stages.head().stageId() if stages.nonEmpty() else -1,
            jobs.head().jobId() if jobs.nonEmpty() else -1,
            wall,
        )

    def since(self, start: Mark, end: Mark | None = None) -> dict[str, float]:
        """Counters of every job and stage submitted after ``start``.

        Both lists come back newest first, so iteration stops at the mark."""
        end = end or self.mark()
        out = dict.fromkeys(COUNTERS, 0.0)
        jobs = self._store.jobsList(None).iterator()
        while jobs.hasNext() and jobs.next().jobId() > start.job_id:
            out["jobs"] += 1
        spans = []
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= start.stage_id:
                break
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            out["input_rows"] += s.inputRecords()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.submissionTime().isDefined():
                t0 = s.submissionTime().get().getTime() / 1e3
                t1 = (
                    s.completionTime().get().getTime() / 1e3
                    if s.completionTime().isDefined()
                    else end.wall
                )
                spans.append((max(t0, start.wall), min(t1, end.wall)))
        out["driver_s"] = max(0.0, (end.wall - start.wall) - covered(spans))
        return out


def covered(spans: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= max(a, reach):
            continue
        total += b - max(a, reach)
        reach = b
    return total
