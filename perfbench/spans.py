"""Spans for the traced run, kept in memory until the run ends.

The hierarchy is pass -> operation -> build/plan/exec -> Spark job ->
stage. Pass, operation and step spans are timed around the calls into
the program; job and stage spans are read back from Spark's status store
(``statusStore().jobsList`` / ``lastStageAttempt``, available with
``spark.ui.enabled=false``) by the job group the benchmark sets on each
step. Python-worker figures come from the SQL status store.
"""

from __future__ import annotations

import itertools
import time

from metrics import parse_sql_metric, self_time

# SQL metric display names -> span attribute.
UDF_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _epoch(date_option):
    return date_option.get().getTime() / 1000.0 if date_option.isDefined() else None


class Tracer:
    """Collects spans of one run. Each span records its run id, its
    parent, a kind and a name, and its start and end in epoch seconds."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        # perf_counter -> epoch, so Python and JVM timestamps compare.
        self._offset = time.time() - time.perf_counter()

    def epoch(self, perf: float) -> float:
        return perf + self._offset

    def add(self, kind: str, name: str, parent: int | None, start: float,
            end: float, **attrs) -> int:
        span_id = next(self._ids)
        self.spans.append({
            "run": self.run_id, "id": span_id, "parent": parent, "kind": kind,
            "name": name, "start": start, "end": end, **attrs,
        })
        return span_id

    def harvest(self, spark, groups: dict[str, int], first_execution: int) -> None:
        """Add job and stage spans for the job groups in ``groups``
        (job group -> step span id), and the Python-worker SQL metrics
        of those jobs to their step spans. SQL executions are read from
        index ``first_execution`` on."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        step_of_job: dict[int, int] = {}
        seen_stages: set[int] = set()
        for group, step in groups.items():
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                step_of_job[job_id] = step
                job = store.job(job_id)
                job_span = self.add(
                    "job", f"job {job_id}", step, _epoch(job.submissionTime()),
                    _epoch(job.completionTime()), status=job.status().toString(),
                )
                for stage_id in sorted(_seq(job.stageIds())):
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    stage = store.lastStageAttempt(stage_id)
                    if stage.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    self.add(
                        "stage", f"stage {stage_id}", job_span,
                        _epoch(stage.submissionTime()), _epoch(stage.completionTime()),
                        **{a: getattr(stage, f)() for f, a in STAGE_FIELDS.items()},
                    )
        self._harvest_udf(spark, step_of_job, first_execution)

    def _harvest_udf(self, spark, step_of_job: dict[int, int], first: int) -> None:
        sql = spark._jsparkSession.sharedState().statusStore()
        by_id = {s["id"]: s for s in self.spans}
        sep = "\u0001"
        for execution in _seq(sql.executionsList(first, 1 << 30)):
            jobs = execution.jobs().keySet().mkString(",")
            steps = {step_of_job.get(int(j)) for j in jobs.split(",") if j}
            steps.discard(None)
            if not steps:
                continue
            wanted = {}
            for entry in execution.metrics().mkString(sep).split(sep):
                # SQLPlanMetric(name,accumulatorId,metricType)
                name, acc, _ = entry[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if name in UDF_METRICS:
                    wanted[acc] = UDF_METRICS[name]
            if not wanted:
                continue
            step = by_id[min(steps)]
            values = sql.executionMetrics(execution.executionId()).mkString(sep)
            for entry in values.split(sep):
                acc, _, text = entry.partition(" -> ")
                if acc in wanted:
                    attr = wanted[acc]
                    step[attr] = step.get(attr, 0.0) + parse_sql_metric(text)

    def self_times(self) -> dict[str, float]:
        """Total self time per span kind."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["start"] and s["end"]:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] and s["end"]:
                t = self_time(s["start"], s["end"], children.get(s["id"], []))
                out[s["kind"]] = out.get(s["kind"], 0.0) + t
        return out
