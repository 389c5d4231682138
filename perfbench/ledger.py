"""Traced execution: spans per query and the per-layer ledger.

A traced query execution records a root span with children for the
builder call, the action (``toPandas``) and ``release_all``; each Spark
stage the action completed becomes a child of the action span, from its
submission and completion times in the status store. Spans are kept in
memory and written out when the run ends.

Every number here is read from outside the package: job groups around
the builder call and the action, the status store (``stagemetrics``),
``queryExecution().tracker()`` for Catalyst phases, the executed plan's
``python*`` SQL metrics, and the context's persistent-RDD listing.
"""

from __future__ import annotations

import itertools
import time

import stagemetrics

PY_METRICS = {
    "pythonBootTime": "python_worker.boot_s",
    "pythonInitTime": "python_worker.init_s",
    "pythonTotalTime": "python_worker.total_s",
    "pythonNumRowsReceived": "python_worker.rows_received",
}
PHASES = {
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimization_s",
    "planning": "catalyst.planning_s",
}
_ids = itertools.count(1)


def python_worker_metrics(jdf) -> dict[str, float]:
    """Sum the python* SQL metrics over the executed plan, descending into
    AQE query stages, cached relations and subqueries. Times are seconds."""
    out = dict.fromkeys(PY_METRICS.values(), 0.0)
    stack, seen = [jdf.queryExecution().executedPlan()], set()
    while stack:
        plan = stack.pop()
        if plan.id() in seen:
            continue
        seen.add(plan.id())
        metrics = plan.metrics()
        for key, name in PY_METRICS.items():
            if metrics.contains(key):
                value = metrics.apply(key).value()
                out[name] += value / 1000 if name.endswith("_s") else value
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(plan.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(plan.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(plan.relation().cachedPlan())
        for seq in (plan.children(), plan.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out


def catalyst_phases(jdf) -> dict[str, float]:
    out = dict.fromkeys(PHASES.values(), 0.0)
    it = jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in PHASES:
            out[PHASES[kv._1()]] = kv._2().durationMs() / 1000
    return out


def cached_storage(spark) -> tuple[int, float]:
    """(persistent RDD count, MB they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return jsc.getPersistentRDDs().size(), mb


class Tracer:
    """Runs query executions under spans and keeps the spans and ledger rows."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.rows: list[dict] = []

    def _span(self, trace: int, parent: int | None, name: str, start: float, end: float) -> int:
        span = next(_ids)
        self.spans.append(
            {"trace": trace, "span": span, "parent": parent, "name": name,
             "start": start, "end": end}
        )
        return span

    def run(self, name: str, pass_no: int, build, release):
        """Execute ``build().toPandas()`` then ``release()`` under spans.

        Returns the pandas result and the query span's duration."""
        spark, sc = self.spark, self.spark.sparkContext
        trace = next(_ids)
        g_build, g_act = f"perfbench-{trace}-build", f"perfbench-{trace}-action"
        # Status-store reads sit outside the query span: the floor before
        # it, the stages after it, each behind a drained event bus.
        stagemetrics.drain(spark)
        floor = stagemetrics.max_stage_id(spark)
        r0 = time.time()
        sc.setJobGroup(g_build, name)
        b0 = time.time()
        df = build()
        b1 = time.time()
        sc.setJobGroup(g_act, name)
        a0 = time.time()
        pdf = df.toPandas()
        a1 = time.time()
        n_cached, cached_mb = cached_storage(spark)
        l0 = time.time()
        release()
        l1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        r1 = time.time()

        stagemetrics.drain(spark)
        # The action's stages are those of the jobs in its own job group;
        # stages of jobs the builder launched are newer than the floor too.
        action_ids = stagemetrics.job_stage_ids(spark, g_act)
        stages = stagemetrics.complete_stages_since(spark, floor)
        stages = [s for s in stages if s.stage_id in action_ids]
        root = self._span(trace, None, name, r0, r1)
        self._span(trace, root, "registry.build", b0, b1)
        action = self._span(trace, root, "action", a0, a1)
        self._span(trace, root, "materialize.release", l0, l1)
        for s in stages:
            self._span(trace, action, f"stage {s.stage_id}",
                       s.submitted_ms / 1000, s.completed_ms / 1000)

        # Stage time inside the action: the union of stage intervals,
        # the uncovered time from the action's start to the last stage's
        # end (driver gaps), and the tail from there to the return of
        # toPandas (collect). Together they equal the action span unless
        # stage time lies outside it.
        segs = sorted((s.submitted_ms / 1000, s.completed_ms / 1000) for s in stages)
        union = stagemetrics.union_ms(
            [(s.submitted_ms, s.completed_ms) for s in stages]) / 1000
        gap, cursor = 0.0, a0
        for start, end in segs:
            gap += max(0.0, start - cursor)
            cursor = max(cursor, end)
        tail = max(0.0, a1 - cursor)
        build_jobs = stagemetrics.job_intervals_ms(spark, g_build)
        act_jobs = sc.statusTracker().getJobIdsForGroup(g_act)
        row = {
            "query": name,
            "pass": pass_no,
            "query_s": r1 - r0,
            "registry.build_s": b1 - b0,
            "registry.build_jobs": len(build_jobs),
            "registry.build_job_wall_s": stagemetrics.union_ms(build_jobs) / 1000,
            "action_s": a1 - a0,
            "spark_exec.jobs": len(act_jobs),
            "spark_exec.stages": len(stages),
            "spark_exec.tasks": sum(s.tasks for s in stages),
            "spark_exec.stage_wall_s": union,
            "spark_exec.executor_run_s": sum(s.run_ms for s in stages) / 1000,
            "spark_exec.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "spark_exec.gc_s": sum(s.gc_ms for s in stages) / 1000,
            "spark_exec.shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / 1e6,
            "spark_exec.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
            "spark_exec.fetch_wait_s": sum(s.fetch_wait_ms for s in stages) / 1000,
            "spark_exec.driver_gap_s": gap,
            "collect.tail_s": tail,
            "collect.rows": len(pdf),
            "collect.mb": float(pdf.memory_usage(deep=True).sum()) / 1e6,
            "materialize.cached_rdds": n_cached,
            "materialize.cached_mb": cached_mb,
            "materialize.release_s": l1 - l0,
            "residual.query_s": (r1 - r0) - (b1 - b0) - (a1 - a0) - (l1 - l0),
            "residual.action_s": (a1 - a0) - union - gap - tail,
        }
        row.update(catalyst_phases(df._jdf))
        row.update(python_worker_metrics(df._jdf))
        self.rows.append(row)
        return pdf, r1 - r0
