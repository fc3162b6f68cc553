"""Read-only access to Spark's own status stores.

After a pipeline has finished, and outside the timed region, the
benchmark reads the jobs, stages and SQL executions that pipeline caused:

* the core status store (``SparkContext.statusStore``) holds per-job and
  per-stage data: task counts, executor run/CPU/GC time, shuffle and
  spill bytes, submission and completion times;
* the SQL status store holds each execution's plan graph and the final
  value of every SQL metric (rows out of each plan node, bytes read,
  bytes sent to Python workers).

Both stores are filled by Spark's listener bus whether or not the web UI
is enabled (``spark.ui.enabled=false`` here). The bus is asynchronous, so
``drain`` waits for it before anything is read. The parsing of SQL metric
strings follows the approach of ``tools/shuffle_audit.py``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(s: str) -> int:
    """SQL metric display strings: '6,000', '216.0 B', '32.2 MiB',
    'total (min, med, max ...)\\n12 ms (...)' -> the leading total."""
    lines = s.strip().split("\n")
    head = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = re.match(r"([\d.,]+)\s*([KMGT]i?B|B)?", head.strip())
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1))


@dataclass
class Stage:
    stage_id: int
    tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_records: int
    output_bytes: int
    submitted_ms: int
    task_wait_ms: int = 0   # filled only when task detail is requested


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    completed_ms: int
    failed: bool
    stages: list[Stage] = field(default_factory=list)


@dataclass
class Execution:
    exec_id: int
    job_ids: list[int]
    # plan-node name -> metric name -> summed value
    nodes: list[tuple[str, dict[str, int]]]


def _opt_time(opt) -> int:
    return int(opt.get().getTime()) if opt.isDefined() else 0


class StatusReader:
    """Reads what happened after a mark. ``mark()`` records the next job
    id and the last SQL execution id; ``jobs_since`` and
    ``executions_since`` return the jobs (with their stages that ran) and
    the SQL executions created after it."""

    def __init__(self, spark):
        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next job id, last SQL execution id) as of now."""
        self.drain()
        return (self._jsc.dagScheduler().numTotalJobs(), self._last_exec_id())

    def _last_exec_id(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).head().executionId() if n else -1

    def jobs_since(self, mark, task_detail: bool = False) -> list[Job]:
        self.drain()
        out = []
        for jid in range(mark[0], self._jsc.dagScheduler().numTotalJobs()):
            try:
                jd = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or never posted
                continue
            grp = jd.jobGroup()
            job = Job(jid, grp.get() if grp.isDefined() else None,
                      _opt_time(jd.submissionTime()), _opt_time(jd.completionTime()),
                      jd.status().toString() == "FAILED")
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue
                st = self._stage(sid, task_detail)
                if st is not None:
                    self._seen_stages.add(sid)
                    job.stages.append(st)
            out.append(job)
        return out

    def _stage(self, sid: int, task_detail: bool) -> Stage | None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - never submitted
            return None
        if s.status().toString() == "SKIPPED":
            return None
        submitted = _opt_time(s.submissionTime())
        st = Stage(sid, s.numTasks(), s.numFailedTasks(), s.executorRunTime(),
                   s.executorCpuTime(), s.jvmGcTime(), s.shuffleReadBytes(),
                   s.shuffleWriteBytes(), s.diskBytesSpilled(), s.inputRecords(),
                   s.outputBytes(), submitted)
        if task_detail and submitted:
            # time each task waited between its stage becoming runnable and
            # getting an executor slot
            tl = self._store.taskList(sid, s.attemptId(), 100_000).iterator()
            wait = 0
            while tl.hasNext():
                wait += max(0, tl.next().launchTime().getTime() - submitted)
            st.task_wait_ms = wait
        return st

    def executions_since(self, mark) -> list[Execution]:
        self.drain()
        out = []
        for eid in range(mark[1] + 1, self._last_exec_id() + 1):
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                continue
            ex = opt.get()
            jobs = []
            jit = ex.jobs().keys().iterator()
            while jit.hasNext():
                jobs.append(int(jit.next()))
            vals = self._sql.executionMetrics(eid)
            nodes = []
            nit = self._sql.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                nd = nit.next()
                ms = {}
                mit = nd.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = ms.get(m.name(), 0) + parse_metric(v.get())
                nodes.append((nd.name(), ms))
            out.append(Execution(eid, sorted(jobs), nodes))
        return out
