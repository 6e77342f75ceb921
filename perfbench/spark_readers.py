"""Readers of Spark's own bookkeeping, used by traced runs: the status
tracker (jobs, stages, tasks per job group), the status store (input,
shuffle and executor run time per stage), the SQL status store (Python
worker time per plan node) and a streaming-query listener (trigger
phase durations).  Nothing here changes what the program runs."""

from __future__ import annotations

import re
import threading

_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def jvm_pid(spark) -> int:
    """Process id of the driver JVM."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mx.getRuntimeMXBean().getName().split("@")[0])


class GroupStats:
    """Counters summed over the jobs of one or more job groups."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "input_bytes",
        "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
        "executor_run_ms", "python_eval_ms",
    )

    def __init__(self):
        for f in self.FIELDS:
            setattr(self, f, 0)
        self.python_eval_seen = False

    def add(self, other: "GroupStats") -> None:
        for f in self.FIELDS:
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.python_eval_seen |= other.python_eval_seen


def read_group(spark, group: str, want_sql: bool = False) -> GroupStats:
    """Status-tracker and status-store counters for one job group.  Call
    it right after the group's work, before the retained-job window can
    evict the entries."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    st = GroupStats()
    job_ids = list(tracker.getJobIdsForGroup(group))
    st.jobs = len(job_ids)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        sinfo = tracker.getStageInfo(sid)
        if sinfo is None or sinfo.numTasks == 0:
            continue
        attempts = _seq(store.stageData(sid, False, None, False, no_quantiles))
        if not attempts:
            continue  # skipped stage (its shuffle output was reused)
        st.stages += 1
        st.tasks += sinfo.numTasks
        st.failed_tasks += sinfo.numFailedTasks
        for a in attempts:
            st.input_bytes += a.inputBytes()
            st.input_records += a.inputRecords()
            st.shuffle_read_bytes += a.shuffleReadBytes()
            st.shuffle_write_bytes += a.shuffleWriteBytes()
            st.executor_run_ms += a.executorRunTime()
    if want_sql:
        _python_eval(spark, set(job_ids), st)
    return st


def _parse_ms(text: str) -> float | None:
    """First duration of a formatted SQL timing metric, in ms."""
    m = re.search(r"(?m)^\s*([0-9.]+)\s*(ms|s|m|h)\b", text.split("\n", 1)[-1])
    if not m:
        return None
    return float(m.group(1)) * _UNITS_MS[m.group(2)]


def _python_eval(spark, job_ids: set[int], st: GroupStats) -> None:
    """Sum "time to run Python workers" over the SQL executions whose
    jobs belong to ``job_ids``."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql_store.executionsList()):
        jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
        if not jobs & job_ids:
            continue
        wanted = {
            m.accumulatorId()
            for m in _seq(ex.metrics())
            if m.name() == "time to run Python workers"
        }
        if not wanted:
            continue
        values = sql_store.executionMetrics(ex.executionId())
        for acc in wanted:
            opt = values.get(acc)
            if opt.isDefined():
                ms = _parse_ms(opt.get())
                if ms is not None:
                    st.python_eval_ms += ms
                    st.python_eval_seen = True


class ProgressLog:
    """Streaming trigger phases (``durationMs``) from a
    StreamingQueryListener.  Listener events arrive asynchronously, in
    order; a run marks the log before a timed execution and, after it,
    waits for the query's termination event before reading the
    triggers that execution produced."""

    PHASES = ("addBatch", "queryPlanning", "walCommit", "latestOffset", "triggerExecution")

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.cond = threading.Condition()
        self.progress: list[dict] = []
        self.terminated = 0

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log.cond:
                    log.progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cond:
                    log.terminated += 1
                    log.cond.notify_all()

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def mark(self) -> tuple[int, int]:
        with self.cond:
            return len(self.progress), self.terminated

    def since(self, mark: tuple[int, int], timeout: float = 5.0) -> list[dict] | None:
        """Triggers recorded after ``mark``, once one more query has
        terminated; None if no termination arrived in ``timeout``."""
        with self.cond:
            if not self.cond.wait_for(lambda: self.terminated > mark[1], timeout):
                return None
            return self.progress[mark[0]:]
