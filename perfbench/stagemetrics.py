"""One reader for Spark's job and stage status store.

Reads the JVM ``AppStatusStore`` (the UI's own data; no listener of its own, no
REST server, works with the UI disabled). The store is fed by a
listener on Spark's asynchronous event bus, so ``drain`` first waits
until the bus has delivered every event posted so far; a read without it
can miss a stage that has already run. Stage totals count only
``COMPLETE`` stages newer than a floor stage id: a failed attempt plus
its retry would otherwise count the retried work twice, and the floor
keeps the window correct when the store evicts old stages.

Usage::

    drain(spark)
    floor = max_stage_id(spark)
    ...run something...
    drain(spark)
    stages = complete_stages_since(spark, floor)
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Stage:
    """One completed stage attempt; times in epoch milliseconds."""

    stage_id: int
    submitted_ms: int
    completed_ms: int
    tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    fetch_wait_ms: int


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _stage_list(spark):
    """Every stage attempt the store holds, newest stage id first."""
    sc = spark.sparkContext
    jvm = sc._jvm
    return _store(spark).stageList(
        jvm.java.util.ArrayList(),  # every status
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )


def drain(spark, timeout_ms: int = 30_000) -> None:
    """Wait until the listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _ms(option) -> int | None:
    return option.get().getTime() if option.isDefined() else None


def max_stage_id(spark) -> int:
    """The newest stage id of any status, or -1 before the first stage."""
    stages = _stage_list(spark)
    return stages.apply(0).stageId() if stages.size() else -1


def complete_stages_since(spark, floor_id: int) -> list[Stage]:
    """COMPLETE stages with id > floor_id.

    The store lists the newest stage first, so the walk stops at the
    first stage at or below the floor and costs only the new stages.
    """
    out = []
    it = _stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() <= floor_id:
            break
        if str(s.status()) != "COMPLETE":
            continue
        out.append(
            Stage(
                stage_id=s.stageId(),
                submitted_ms=_ms(s.submissionTime()),
                completed_ms=_ms(s.completionTime()),
                tasks=s.numCompleteTasks(),
                run_ms=s.executorRunTime(),
                cpu_ns=s.executorCpuTime(),
                gc_ms=s.jvmGcTime(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                fetch_wait_ms=s.shuffleFetchWaitTime(),
            )
        )
    return out


def job_intervals_ms(spark, group: str) -> list[tuple[int, int]]:
    """(submitted, completed) epoch ms of every finished job in a job group."""
    store = _store(spark)
    out = []
    for job_id in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        start, end = _ms(job.submissionTime()), _ms(job.completionTime())
        if start is not None and end is not None:
            out.append((start, end))
    return out


def job_stage_ids(spark, group: str) -> set[int]:
    """Ids of every stage of every job in a job group, skipped ones included."""
    store = _store(spark)
    out = set()
    for job_id in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        ids = store.job(job_id).stageIds()
        out.update(ids.apply(i) for i in range(ids.size()))
    return out


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
