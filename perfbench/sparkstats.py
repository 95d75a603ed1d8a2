"""Spark-side per-call statistics, read from outside the engine.

Each benchmark call runs under its own job group.  After the call the
collector reads, for the group's jobs only:

* job and stage ids from ``SparkContext.statusTracker()``;
* job and stage intervals, task counts, executor run time, shuffle
  bytes and spill from the application status store
  (``spark._jsc.sc().statusStore()``, populated even with
  ``spark.ui.enabled=false``);
* the Python-operator SQL metrics (time to run Python workers, bytes sent
  to and returned from them) from the SQL status store, whose formatted
  "total (min, med, max (stage S.A: task T))" strings also name the stage
  that ran the Python operator.

The status listeners run asynchronously, so :meth:`Collector.stats` waits
until every job of the group has ended in the store.
"""

from __future__ import annotations

import re
import statistics
import time
import uuid
from contextlib import contextmanager

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]+)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")

_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "AggregateInPandas", "PythonMapInArrow")
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _parse_total(text: str, units: dict) -> float:
    """The total of a formatted SQL metric value; multi-task values read
    ``"total (min, med, max (stageId: taskId))\\n12.9 s (3.1 s, ...)"``."""
    m = _TOTAL_RE.match((text or "").rsplit("\n", 1)[-1])
    if not m or m.group(2) not in units:
        return 0.0
    return float(m.group(1).replace(",", "")) * units[m.group(2)]


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class Collector:
    """Job-group scoped reader of the status stores of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; yields the group id."""
        gid = f"{label}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(gid, label, interruptOnCancel=False)
        try:
            yield gid
        finally:
            self.sc._jsc.clearJobGroup()

    def _jobs(self, gid: str, timeout_s: float = 10.0) -> list:
        deadline = time.monotonic() + timeout_s
        while True:
            ids = sorted(self.tracker.getJobIdsForGroup(gid))
            jobs = []
            for j in ids:
                try:
                    jobs.append(self.store.job(j))
                except Exception:  # not yet in the store
                    jobs = None
                    break
            if jobs is not None and all(
                jd.status().toString() != "RUNNING" and jd.completionTime().isDefined()
                for jd in jobs
            ):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of group {gid} did not settle in the status store")
            time.sleep(0.02)

    def _python_metrics(self, job_ids: set[int]) -> dict:
        """Sum the Python-operator SQL metrics over the executions whose
        jobs belong to ``job_ids``; also return the stages that ran them."""
        out = {"run_s": 0.0, "sent_bytes": 0.0, "returned_bytes": 0.0, "stages": set()}
        execs = self.sql_store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            it = e.jobs().keysIterator()
            ejobs = set()
            while it.hasNext():
                ejobs.add(int(it.next()))
            if not ejobs & job_ids:
                continue
            values = self.sql_store.executionMetrics(e.executionId())
            nodes = self.sql_store.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith(_PYTHON_NODES):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    text = v.get()
                    name = metric.name()
                    if name == _PY_RUN:
                        out["run_s"] += _parse_total(text, _TIME_UNITS)
                        out["stages"].update(int(s) for s in _STAGE_RE.findall(text))
                    elif name == _PY_SENT:
                        out["sent_bytes"] += _parse_total(text, _SIZE_UNITS)
                    elif name == _PY_RECV:
                        out["returned_bytes"] += _parse_total(text, _SIZE_UNITS)
        return out

    def stats(self, gid: str) -> dict:
        """Counters and spans of every job of group ``gid``.

        Spans are ``(name, start_s, end_s, parent)`` on the host wall
        clock: one per job (parent ``"call"``) and one per executed stage
        (parent its job)."""
        jobs = self._jobs(gid)
        job_ids = {jd.jobId() for jd in jobs}
        py = self._python_metrics(job_ids)
        spans = []
        stages = {}
        for jd in jobs:
            jname = f"job{jd.jobId()}"
            spans.append((jname, _opt_ms(jd.submissionTime()) / 1e3,
                          _opt_ms(jd.completionTime()) / 1e3, "call"))
            for sid in self.tracker.getJobInfo(jd.jobId()).stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() != "COMPLETE" or sid in stages:
                    continue
                stages[sid] = sd
                start, end = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
                if start is not None and end is not None:
                    spans.append((f"stage{sid}", start / 1e3, end / 1e3, jname))
        py_stages = [stages[s] for s in py["stages"] if s in stages]
        busiest = max(py_stages, key=lambda sd: sd.executorRunTime(), default=None)
        skew = 0.0
        if busiest is not None:
            durs = self._task_durations(busiest)
            if durs:
                skew = max(durs) / max(statistics.median(durs), 1e-9)
        return {
            "spark_jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(sd.numCompleteTasks() for sd in stages.values()),
            "shuffle_write_bytes": sum(sd.shuffleWriteBytes() for sd in stages.values()),
            "shuffle_read_bytes": sum(sd.shuffleReadBytes() for sd in stages.values()),
            "spill_bytes": sum(sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                               for sd in stages.values()),
            "python_stage_busy_s": sum(sd.executorRunTime() for sd in py_stages) / 1e3,
            "python_stage_ids": sorted(py["stages"]),
            "python_run_s": py["run_s"],
            "python_sent_bytes": py["sent_bytes"],
            "python_returned_bytes": py["returned_bytes"],
            "task_max_over_p50": skew,
            "spans": spans,
        }

    def _task_durations(self, sd) -> list[float]:
        tasks = self.store.taskList(sd.stageId(), sd.attemptId(), 1 << 20)
        out = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(float(d.get()))
        return out
