"""Spark's own record of a benchmark job, read from outside the engine.

Each benchmark job runs under its own Spark job group. Afterwards this
module reads:

* the status store (``AppStatusStore``) for that group: jobs, stages
  and task summaries, with run, CPU, GC, shuffle and spill figures;
* the SQL metrics of the executed plans the job hands over (the
  action's ``queryExecution`` and, where a sink asked its input for a
  partition count, that input's own ``queryExecution``). An adaptive
  plan is read through ``executedPlan`` and each query stage through
  ``plan``; reused exchanges are counted where they first ran.

Neither read runs a Spark job; ``test_sparkstats.py`` pins that.
"""

from __future__ import annotations

from dataclasses import dataclass

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    status: str
    name: str
    num_tasks: int
    submit: float | None  # epoch seconds
    complete: float | None
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, float]  # by metric key; times in s, sizes in B


@dataclass
class GroupRecord:
    """Everything Spark recorded for one job group."""

    job_ids: list[int]
    stages: list[StageRecord]
    nodes: list[PlanNode]
    longest_stage_skew: float = 1.0
    last_stage: StageRecord | None = None
    last_stage_busy_tasks: int = 0

    def sum_nodes(self, metric: str, pred) -> float:
        return sum(n.metrics.get(metric, 0.0) for n in self.nodes if pred(n))

    def count_nodes(self, pred) -> int:
        return sum(1 for n in self.nodes if pred(n))


class SparkStats:
    """Reader over one live SparkSession's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._median_max = q

    def job_count(self) -> int:
        self._bus.waitUntilEmpty()
        return self._store.jobsList(None).length()

    def group(self, group_id: str, query_executions) -> GroupRecord:
        # the store is filled from the listener bus, which may still
        # hold the group's last job and stage events
        self._bus.waitUntilEmpty()
        jobs = [j for j in _seq(self._store.jobsList(None))
                if _opt(j.jobGroup()) == group_id]
        job_ids = sorted(j.jobId() for j in jobs)
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(_seq(j.stageIds()))
        stages = []
        for sid in sorted(stage_ids):
            for sd in _seq(self._store.stageData(
                    sid, False, None, False, self._no_quantiles)):
                stages.append(self._stage_record(sd))
        rec = GroupRecord(job_ids, stages,
                          plan_nodes(query_executions))
        ran = [s for s in stages if s.status == "COMPLETE"]
        if ran:
            longest = max(ran, key=lambda s: s.run_s)
            rec.longest_stage_skew = self._skew(longest)
            last_job = max(jobs, key=lambda j: j.jobId())
            last_ids = set(_seq(last_job.stageIds()))
            last = [s for s in ran if s.stage_id in last_ids]
            if last:
                rec.last_stage = max(last, key=lambda s: s.stage_id)
                rec.last_stage_busy_tasks = self._busy_tasks(rec.last_stage)
        return rec

    @staticmethod
    def _stage_record(sd) -> StageRecord:
        sub, done = _opt(sd.submissionTime()), _opt(sd.completionTime())
        return StageRecord(
            stage_id=sd.stageId(), attempt=sd.attemptId(),
            status=sd.status().toString(), name=sd.name(),
            num_tasks=sd.numCompleteTasks(),
            submit=None if sub is None else sub.getTime() / 1e3,
            complete=None if done is None else done.getTime() / 1e3,
            run_s=sd.executorRunTime() / 1e3,
            cpu_s=sd.executorCpuTime() / 1e9,
            gc_s=sd.jvmGcTime() / 1e3,
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            spill_bytes=sd.diskBytesSpilled(),
        )

    def _skew(self, stage: StageRecord) -> float:
        """Longest task / median task, by task duration."""
        dist = _opt(self._store.taskSummary(
            stage.stage_id, stage.attempt, self._median_max))
        if dist is None:
            return 1.0
        d = dist.duration()
        med, mx = d.apply(0), d.apply(1)
        return mx / max(med, 1.0)

    def _busy_tasks(self, stage: StageRecord) -> int:
        """Tasks of ``stage`` that read at least one shuffled record."""
        busy = 0
        for t in _seq(self._store.taskList(
                stage.stage_id, stage.attempt, stage.num_tasks + 1)):
            tm = _opt(t.taskMetrics())
            if tm is not None and tm.shuffleReadMetrics().recordsRead() > 0:
                busy += 1
        return busy


def plan_nodes(query_executions) -> list[PlanNode]:
    """Every node of the given executed plans, with its SQL metrics."""
    nodes: list[PlanNode] = []
    todo = [qe.executedPlan() for qe in query_executions]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[kv._1()] = max(m.value(), 0) * _SCALE.get(
                m.metricType(), 1)
        nodes.append(PlanNode(p.nodeName(), p.simpleString(100), metrics))
        todo.extend(_seq(p.children()))
    return nodes
