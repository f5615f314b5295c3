"""Spark job, stage and task counts for one job group, read from outside
the program through the status tracker and the JVM status store.

Jobs are found by job group (one group per traced phase, or the
streaming query's run id, which Structured Streaming sets as the group
of every batch job).  Stages come from those jobs' stage ids, never from
the length of ``statusStore().stageList(...)``: the store keeps only the
newest stages, so a list-size delta can go negative.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_NODE = re.compile(r"^[\s|:+\-*]*(\w+)", re.M)
_PYTHON = re.compile(r"Python|InPandas|InArrow")


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0  # max / median task run time of the longest stage

    def add(self, other: "StageTotals") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.executor_run_s += other.executor_run_s
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        self.task_skew = max(self.task_skew, other.task_skew)


def group_totals(spark, group: str) -> StageTotals:
    """Totals over the completed stages of every job in ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = StageTotals(jobs=len(job_ids))
    longest = (-1, 0, 0)  # (run time ms, stage id, attempt id)
    empty_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, empty_status, False, no_quantiles)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            run_ms = st.executorRunTime()
            out.executor_run_s += run_ms / 1000.0
            out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if run_ms > longest[0]:
                longest = (run_ms, sid, st.attemptId())
    if longest[0] > 0:
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(longest[1], longest[2], q)
        if summary.isDefined():
            runs = summary.get().executorRunTime()  # Scala IndexedSeq
            if runs.apply(0) > 0:
                out.task_skew = runs.apply(1) / runs.apply(0)
    return out


def plan_nodes(plan_text: str) -> tuple[int, int]:
    """(Python-evaluation nodes, exchanges) in an executed-plan string."""
    names = _NODE.findall(plan_text)
    return (
        sum(1 for n in names if _PYTHON.search(n)),
        sum(1 for n in names if n.endswith("Exchange")),
    )
