"""Spans around the benchmark's calls into each layer, and Spark's own
job, stage and SQL records for the jobs a span ran.

Spans are recorded from the benchmark's side of each public call, kept
in memory and written out once at the end. Each span that runs Spark
work sets a job group, so its jobs, stages and physical-plan metrics
can be read back from Spark's status store afterwards. Nothing here
reaches inside the package.

Stage counts are compared as counts: adaptive query execution decides
at run time how many stages a plan needs (116-118 stages were measured
on a two-table bigram join of 3K profiles a side), so a difference of one or two stages is
plan wobble, not a change.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

# The token equi-join of candidate generation: both keys are the token
# and its condition carries the length filter. The doc-frequency joins
# share the keys but have no condition.
_CANDIDATE_JOIN = re.compile(r"^\w*Join \[token#\d+\], \[token#\d+\], Inner, ")


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _epoch_ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.groups: dict[str, dict] = {}

    @contextmanager
    def span(self, name: str, trace_id: int, group: str):
        """Time one layer call; ``group`` tags the Spark jobs it runs.
        Spans of one iteration share ``trace_id``."""
        rec = {"name": name, "trace_id": trace_id, "group": group}
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def spark_records(self, rec: dict) -> dict:
        """Jobs, stages, task metrics and the candidate-join output rows
        of the span's job group, read from Spark's status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
        stage_ids = set()
        for j in jobs:
            stage_ids.update(tracker.getJobInfo(j).stageIds)
        store = jsc.statusStore()
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "executor_run_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0}
        busy = []
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if str(st.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            a, b = _epoch_ms(st.submissionTime()), _epoch_ms(st.completionTime())
            if a is not None and b is not None:
                busy.append((a / 1000, b / 1000))
        span_s = rec["end"] - rec["start"]
        out["driver_wait_s"] = span_s - _covered(busy, rec["start"], rec["end"])
        out["candidate_rows"] = self._candidate_rows(set(jobs), rec["start"])
        self.groups[rec["group"]] = out
        return out

    def _candidate_rows(self, jobs: set, since: float) -> int:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        rows, matched = 0, False
        executions = _scala_seq(sql.executionsList())
        for ex in reversed(executions):
            if ex.submissionTime() < since * 1000 - 1000:
                break
            ex_jobs = set()
            it = ex.jobs().keysIterator()
            while it.hasNext():
                ex_jobs.add(it.next())
            if not ex_jobs & jobs:
                continue
            values = {}
            it = sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for node in _scala_seq(sql.planGraph(ex.executionId()).allNodes()):
                if not (_CANDIDATE_JOIN.match(node.desc())
                        and "len#" in node.desc()):
                    continue
                matched = True
                for m in _scala_seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId(), "0")
                        rows += int(v.replace(",", ""))
        if not matched:
            raise RuntimeError(
                "no candidate token join found in the plans of the join's "
                "jobs; the plan-node pattern no longer matches")
        return rows

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "groups": self.groups, **extra},
                      f, indent=1)
