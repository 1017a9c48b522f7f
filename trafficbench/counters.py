"""Per-operation Spark counters, read from outside the engine.

Spark keeps every finished job, stage and SQL execution in in-process
status stores that work with the UI disabled:

* ``sc._jsc.sc().statusStore()`` (AppStatusStore): jobs with their job
  group and stage ids; per stage attempt the executor run/CPU/GC time,
  shuffle read/write, spill, input and output bytes.
* ``spark._jsparkSession.sharedState().statusStore()`` (SQLAppStatusStore):
  SQL executions with their jobs, plan graph and final metric values:
  "number of files read", scan and write row counts, and the Python
  exec's "data sent to Python workers".

Counts of work (CPU-ns, bytes, files, rows, jobs) do not move with
co-tenant load the way wall-clock time does, which is why the traced run
reports them next to the timings.

Ids of jobs, stages and executions only grow, so a reader remembers the
highest id it has seen and each ``read`` returns what is new since the
previous one: one client thread means everything new belongs to the
operation that just ran.
"""

from __future__ import annotations

from dataclasses import dataclass

PY_SENT = "data sent to Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


@dataclass
class OpCounters:
    """Counters of one operation, summed over its jobs and executions."""

    jobs: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_sent_bytes: float = 0.0
    # executor CPU of the SQL executions that ran a Python exec (the
    # decode kernels and everything fused with them)
    python_exec_cpu_ns: int = 0
    files_read: int = 0
    rows_scanned: int = 0
    # writes into the operation's table (see ``read``'s ``table``)
    files_written: int = 0
    rows_written: int = 0
    write_shuffle_bytes: int = 0
    write_output_bytes: int = 0
    # jobs of SQL executions that are a bare count() over cached data
    count_jobs: int = 0

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_read_bytes + self.shuffle_write_bytes


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _size_metric(text: str | None) -> float:
    """Bytes of a SIZE-type SQL metric as the store formats it: the last
    line starts with the total, e.g. "7.4 KiB (3.6 KiB, ...)". Three
    significant digits."""
    if not text:
        return 0.0
    try:
        num, unit = text.strip().splitlines()[-1].split()[:2]
        return float(num) * _SIZE_UNITS[unit]
    except (ValueError, KeyError):
        return 0.0


def _sum_metric(text: str | None) -> int:
    """Value of a SUM-type SQL metric as the store formats it ("1,234")."""
    if not text:
        return 0
    try:
        return int(text.replace(",", "").strip())
    except ValueError:
        return 0


class SparkCounters:
    """Reads what Spark's status stores recorded since the previous read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = self._last_stage = self._last_exec = -1
        self.skip()

    def _sync(self) -> None:
        # job/stage/SQL end events reach the stores through the listener
        # bus asynchronously; drain it before reading
        self._bus.waitUntilEmpty()

    def _new_jobs(self) -> dict:
        """job id -> (job group, stage ids) of the jobs since the last
        read; advances the job and stage marks."""
        jobs = self._store.jobsList(None)  # newest first
        new = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            new[jid] = (_opt(j.jobGroup()), _seq(j.stageIds()))
        self._last_job = max(new, default=self._last_job)
        return new

    def skip(self) -> None:
        """Forget everything recorded so far (e.g. a warm-up)."""
        self._sync()
        new = self._new_jobs()
        self._last_stage = max((s for _, ss in new.values() for s in ss),
                               default=self._last_stage)
        self._last_exec = int(self._sql.executionsCount()) - 1

    def read(self, groups: set[str] | None, table: str | None = None) -> OpCounters:
        """Counters of the jobs new since the last read whose job group is
        in ``groups`` (all new jobs when ``groups`` is None), plus every SQL
        execution new since the last read. Write counters cover only file
        writes whose target path contains ``table``."""
        self._sync()
        out = OpCounters()
        new = self._new_jobs()
        job_stages = {jid: ss for jid, (group, ss) in new.items()
                      if groups is None or group in groups}
        out.jobs = len(job_stages)
        stage_stats: dict[int, tuple[int, int, int]] = {}
        for sid in sorted({s for ss in job_stages.values() for s in ss}):
            # a stage id at or below the mark ran in an earlier operation
            # and was reused (skipped) here
            if sid <= self._last_stage:
                continue
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j: stage never ran (skipped) — no data
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out.run_ms += st.executorRunTime()
            out.cpu_ns += st.executorCpuTime()
            out.gc_ms += st.jvmGcTime()
            out.shuffle_read_bytes += st.shuffleReadBytes()
            stage_stats[sid] = (st.shuffleWriteBytes(), st.outputBytes(),
                                st.executorCpuTime())
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.input_bytes += st.inputBytes()
        self._last_stage = max((s for _, ss in new.values() for s in ss),
                               default=self._last_stage)
        self._read_executions(out, job_stages, stage_stats, table)
        return out

    def _read_executions(self, out: OpCounters, job_stages: dict,
                         stage_stats: dict, table: str | None) -> None:
        n = int(self._sql.executionsCount())
        for eid in range(self._last_exec + 1, n):
            ex = _opt(self._sql.execution(eid))
            if ex is None:
                continue
            ex_jobs = {int(k) for k in _seq(ex.jobs().keys().toSeq())}
            ex_jobs &= job_stages.keys()
            if not ex_jobs:
                continue  # another group's execution
            plan = ex.physicalPlanDescription()
            is_write = "InsertIntoHadoopFsRelationCommand" in plan
            if ("count(1)" in plan and "InMemoryTableScan" in plan
                    and not is_write):
                out.count_jobs += len(ex_jobs)
            stats = [stage_stats.get(sid, (0, 0, 0)) for sid in
                     {s for jid in ex_jobs for s in job_stages[jid]}]
            into_table = is_write and table is not None and table in plan
            if into_table:
                out.write_shuffle_bytes += sum(st[0] for st in stats)
                out.write_output_bytes += sum(st[1] for st in stats)
            metrics = self._sql.executionMetrics(eid)
            python_exec = False
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                scan = name.startswith("Scan ")
                write = into_table and name.startswith(
                    "Execute InsertIntoHadoopFsRelation")
                for m in _seq(node.metrics()):
                    mname = m.name()
                    if mname == PY_SENT:
                        python_exec = True
                        out.python_sent_bytes += _size_metric(
                            _opt(metrics.get(m.accumulatorId())))
                    if not (scan or write):
                        continue
                    value = _sum_metric(_opt(metrics.get(m.accumulatorId())))
                    if scan and mname == "number of files read":
                        out.files_read += value
                    elif scan and mname == "number of output rows":
                        out.rows_scanned += value
                    elif write and mname == "number of written files":
                        out.files_written += value
                    elif write and mname == "number of output rows":
                        out.rows_written += value
            if python_exec:
                out.python_exec_cpu_ns += sum(st[2] for st in stats)
        self._last_exec = n - 1
