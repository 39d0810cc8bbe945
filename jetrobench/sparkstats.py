"""Per-job-group counters from Spark's in-memory status store.

Each operation phase runs under its own job group. After the operation
(outside its timed interval) the listener bus is drained and the group's
jobs and stages are read from the status store, which keeps only the
most recent jobs and stages; reading per group keeps a long run whole.
The UI stays off: the store is filled by the status listener alone.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError

_MB = 1024.0 * 1024.0


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def exact(self) -> tuple:
        """The fields that must repeat exactly on identical input. Shuffle
        writes are not among them: a stage that reads a shuffle sees its
        blocks in fetch order, which varies, and partial aggregation
        downstream of it then emits a varying number of records, which
        compress to a varying number of bytes."""
        return (self.jobs, self.stages, self.tasks)


class StatusReader:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def sql_mark(self) -> int:
        """Id of the latest SQL execution (-1 before the first); pass it
        to ``join_counts``."""
        n = int(self._sql.executionsCount())
        return int(self._sql.executionsList(n - 1, 1).head().executionId()) if n else -1

    def group(self, group_id: str) -> Counters:
        """Counters of every job in a group (listener bus drained first).
        A stage shared by several jobs is counted once; skipped stages
        ran no tasks and add nothing."""
        self.drain()
        c = Counters()
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group_id):
            c.jobs += 1
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += s.numTasks()
                c.cpu_s += s.executorCpuTime() / 1e9
                c.run_s += s.executorRunTime() / 1e3
                c.gc_s += s.jvmGcTime() / 1e3
                c.input_mb += s.inputBytes() / _MB
                c.shuffle_read_mb += s.shuffleReadBytes() / _MB
                c.shuffle_write_mb += s.shuffleWriteBytes() / _MB
                c.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        return c

    def join_counts(self, since: int) -> tuple[int, int]:
        """(broadcast-hash, sort-merge) joins in the final plans of the
        SQL executions started after mark ``since``."""
        self.drain()
        bhj = smj = 0
        for eid in range(since + 1, self.sql_mark() + 1):
            ex = self._sql.execution(eid)
            if ex.isDefined():
                b, s = final_plan_joins(ex.get().physicalPlanDescription())
                bhj += b
                smj += s
        return bhj, smj


_NODE = re.compile(r"\b(BroadcastHashJoin|SortMergeJoin)\b")


def final_plan_joins(description: str) -> tuple[int, int]:
    """Count join nodes in the tree part of a formatted plan description,
    skipping every adaptive plan's '== Initial Plan ==' subtree."""
    tree = description.split("\n\n", 1)[0]
    bhj = smj = 0
    skip_below: int | None = None
    for line in tree.splitlines():
        # depth = column of the node's connector ('+-') or of its name
        indent = len(line) - len(line.lstrip(" :|"))
        body = line.lstrip(" :|+-*")
        if skip_below is not None:
            if indent > skip_below:
                continue
            skip_below = None
        if body.startswith("== Initial Plan =="):
            skip_below = indent
            continue
        m = _NODE.match(body)
        if m:
            if m.group(1) == "BroadcastHashJoin":
                bhj += 1
            else:
                smj += 1
    return bhj, smj
