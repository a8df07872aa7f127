"""Per-layer readings taken from Spark's own status store.

Every call the benchmark traces runs under its own job group. Afterwards
the job ids of that group come from ``sc.statusTracker()`` and each
stage's totals from ``statusStore().lastStageAttempt(id)``. Both answer
with the UI disabled. Nothing here runs inside the timed phase of an
untraced run.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError

# physical operators that hand rows to Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)
_NODE = re.compile(r"^[\s:+\-|*]*(?:\(\d+\)\s*)?([A-Za-z]+)")


@dataclass
class StageTotals:
    """Sums over every stage that ran for a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every event posted so far
    (job and stage ends reach it asynchronously)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_totals(sc, group: str) -> StageTotals:
    """Totals of every job run under job group ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = StageTotals()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # never attempted
        if sd.status().toString() == "SKIPPED":
            continue
        out.stages += 1
        out.tasks += sd.numCompleteTasks()
        out.run_ms += sd.executorRunTime()
        out.cpu_ns += sd.executorCpuTime()
        out.gc_ms += sd.jvmGcTime()
        out.shuffle_read_bytes += sd.shuffleReadBytes()
        out.shuffle_write_bytes += sd.shuffleWriteBytes()
        out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.input_bytes += sd.inputBytes()
        out.output_bytes += sd.outputBytes()
    return out


def plan_nodes(plan_text: str) -> list[str]:
    """Operator names, one per line of a physical plan's tree string."""
    names = []
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if m:
            names.append(m.group(1))
    return names


def count_exchanges(plan_text: str) -> int:
    return sum(1 for n in plan_nodes(plan_text) if n.endswith("Exchange"))


def has_python(plan_text: str) -> bool:
    return any(n in PYTHON_NODES for n in plan_nodes(plan_text))
