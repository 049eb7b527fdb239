"""Per-layer collector: reads Spark's in-process status stores from outside
the program.

Each traced phase runs under its own job group (``sc.setJobGroup``), so
every job is labelled with the workload, the op and the phase. Jobs are
counted per phase by job group, plus any job whose id the DAG scheduler
handed out while the phase ran under another group (a streaming query's
micro-batches carry the stream's run id as their group). The count never
relies on the length of ``jobsList``, which ``spark.ui.retainedJobs``
caps. Stage metrics come from ``AppStatusStore``; the Python/Arrow
boundary comes from the SQL metrics of the executions those jobs belong
to, as ``SQLAppStatusStore`` reports them.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field

#: Metric-string units as Spark formats them (Utils.msDurationToString,
#: Utils.bytesToString).
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_MB = 2.0**20
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def parse_metric(text: str) -> float:
    """``'total (min, med, max ...)\\n9.8 s (2.3 s, ...)'`` or ``'400 ms'``
    → 9.8 / 0.4, in seconds or bytes."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


@dataclass
class Phase:
    group: str
    lo: int  # first job id the scheduler could hand out in this phase
    hi: int = 0  # one past the last


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    python_worker_s: float = 0.0
    python_sent_mb: float = 0.0
    job_ids: set = field(default_factory=set)


class Tracer:
    """Labels phases with job groups and reads their counters afterwards."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.prefix = f"perfbench.{workload}."
        self._stage_args = (
            getattr(self.store, "stageData$default$3")(),
            False,
            getattr(self.store, "stageData$default$5")(),
        )
        self._seen_stages: set[int] = set()
        self._seen_exec = self._last_execution_id()

    def _job_counter(self) -> int:
        return int(self.jsc.dagScheduler().numTotalJobs())

    @contextlib.contextmanager
    def phase(self, name: str):
        """Run the body under job group ``perfbench.<workload>.<name>``;
        yields the Phase, whose ``hi`` is set on exit."""
        ph = Phase(self.prefix + name, self._job_counter())
        self.sc.setJobGroup(ph.group, name)
        try:
            yield ph
        finally:
            ph.hi = self._job_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, phases: list[Phase]) -> list[Counters]:
        """Counters per phase; call once the phases have ended."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = [self._jobs_and_stages(ph) for ph in phases]
        self._python_boundary(out)
        return out

    def _jobs_and_stages(self, ph: Phase) -> Counters:
        c = Counters()
        # a group recurs in every traced pass: keep this phase's jobs only
        in_phase = range(ph.lo, ph.hi)
        ids = {int(j) for j in self.sc.statusTracker().getJobIdsForGroup(ph.group)
               if int(j) in in_phase}
        for jid in in_phase:
            if jid in ids:
                continue
            group = self.store.job(jid).jobGroup()
            if not (group.isDefined() and str(group.get()).startswith(self.prefix)):
                ids.add(jid)  # ran inside the phase under a foreign group
        c.job_ids = ids
        c.jobs = len(ids)
        for jid in sorted(ids):
            sids = self.store.job(jid).stageIds()
            for k in range(sids.size()):
                sid = int(sids.apply(k))
                if sid in self._seen_stages:
                    continue
                attempts = self.store.stageData(sid, False, *self._stage_args)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    c.stages += 1
                    c.tasks += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                    c.cpu_s += st.executorCpuTime() / 1e9
                    c.run_s += st.executorRunTime() / 1e3
                    c.gc_s += st.jvmGcTime() / 1e3
                    c.shuffle_read_mb += st.shuffleReadBytes() / _MB
                    c.shuffle_write_mb += st.shuffleWriteBytes() / _MB
                    c.spill_mb += st.diskBytesSpilled() / _MB
                    c.input_mb += st.inputBytes() / _MB
                    c.output_mb += st.outputBytes() / _MB
        return c

    def _last_execution_id(self) -> int:
        n = int(self.sql.executionsCount())
        if n == 0:
            return -1
        return int(self.sql.executionsList(n - 1, 1).apply(0).executionId())

    def _python_boundary(self, counters: list[Counters]) -> None:
        """Attribute the Python-worker SQL metrics of every SQL execution
        started since the last call to the phase owning its jobs."""
        n = int(self.sql.executionsCount())
        newest = self._seen_exec
        for i in range(n - 1, -1, -1):
            ex = self.sql.executionsList(i, 1).apply(0)
            eid = int(ex.executionId())
            if eid <= self._seen_exec:
                break
            newest = max(newest, eid)
            jobs = ex.jobs().keySet()
            it = jobs.iterator()
            job_ids = set()
            while it.hasNext():
                job_ids.add(int(it.next()))
            owner = next((c for c in counters if c.job_ids & job_ids), None)
            if owner is None:
                continue
            wanted = {}
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() in (PY_TIME, PY_SENT):
                        wanted[int(metric.accumulatorId())] = metric.name()
            if not wanted:
                continue
            values = self.sql.executionMetrics(eid)
            for acc, name in wanted.items():
                got = values.get(acc)
                if not got.isDefined():
                    continue
                v = parse_metric(str(got.get()))
                if name == PY_TIME:
                    owner.python_worker_s += v
                else:
                    owner.python_sent_mb += v / _MB
        self._seen_exec = newest
