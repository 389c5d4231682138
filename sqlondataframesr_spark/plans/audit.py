"""Physical-plan inspection — "is this the plan I'd want at 100 TB?"

`.explain()` prints for humans; this module parses the executed plan
into a small structured summary so scale properties can be *asserted*
(tests/test_plans.py) or checked interactively:

    >>> from sqlondataframesr_spark.plans.audit import audit
    >>> a = audit(df)
    >>> a.pushed_filters       # reached the parquet reader?
    >>> a.join_strategies      # broadcast vs shuffle
    >>> a.has_cartesian        # accidental cross product?
    >>> python_maps_under_range_sort(df)  # Python bodies a sort re-runs

The summary reads the AQE *final* plan when available — what actually
ran, not the static estimate.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)

#: a Sort whose input is a single-partition exchange — the whole
#: relation serializes through ONE task (the unpartitioned-window
#: trap, VERDICT r9 item 1). Scalar-aggregate gathers also use
#: Exchange SinglePartition but feed a HashAggregate, not a Sort, so
#: they don't match. Tolerates one AQE/reuse wrapper line between the
#: Sort and the exchange (ShuffleQueryStage / ReusedExchange).
_SINGLE_TASK_SORT_RE = re.compile(
    r"Sort \[[^\n]*\n(?:[^\n]*(?:ShuffleQueryStage|AQEShuffleRead)[^\n]*\n)?"
    r"[^\n]*Exchange SinglePartition"
)


@dataclass
class PlanAudit:
    text: str
    join_strategies: list[str] = field(default_factory=list)
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    n_exchanges: int = 0
    has_cartesian: bool = False
    has_fused_topk: bool = False
    has_single_task_sort: bool = False

    def scan_columns(self) -> set[str]:
        """Union of all columns any scan actually reads."""
        cols: set[str] = set()
        for s in self.read_schemas:
            cols |= {c.split(":")[0] for c in s.split(",") if c}
        return cols


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame, execute: bool = False) -> str:
    """``explain("formatted")`` as a string — the ONE shared accessor
    (ADVICE r7: this call was previously duplicated across
    scripts/dump_plans.py and tests; private-API churn now breaks in
    exactly one place).

    ``execute=True`` materializes the query FIRST (an action on the
    same JVM Dataset finalizes the same queryExecution), so the digest
    reads AQE's FINAL plan — finalized stages with their codegen ids —
    instead of the pre-execution estimate whose "codegen spans: 0" is
    an artifact, not a finding (VERDICT r7 item 6).
    """
    if execute:
        df.toPandas()
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:  # noqa: BLE001 - private API moved; degrade to toString
        return physical_plan(df)


def audit(df: DataFrame) -> PlanAudit:
    plan = physical_plan(df)
    return PlanAudit(
        text=plan,
        join_strategies=_JOIN_RE.findall(plan),
        pushed_filters=[
            f for f in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if f
        ],
        read_schemas=re.findall(r"ReadSchema: struct<([^>]*)>", plan),
        n_exchanges=plan.count("Exchange hashpartitioning"),
        has_cartesian="CartesianProduct" in plan,
        has_fused_topk="TakeOrderedAndProject" in plan,
        has_single_task_sort=bool(_SINGLE_TASK_SORT_RE.search(plan)),
    )


#: physical nodes that run a Python body over every input row
PYTHON_MAP_NODES = frozenset(
    {
        "MapInPandas",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
    }
)


def _plan_children(node) -> list:
    """Children of a physical node, looking through the adaptive
    wrapper and query stages, which hide their plans from children()."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def python_maps_under_range_sort(df: DataFrame) -> list[str]:
    """Python map nodes that a range sort would evaluate twice.

    A range-partitioning exchange (``orderBy``) samples its input in a
    job of its own before the shuffle-map stage computes that input
    again, so a Python map below it runs its body twice per row. A
    cached scan (``materialize``) or any other exchange in between
    computes the rows once and breaks the chain; a cached plan is
    checked on its own. Returns the node names found, in plan order —
    empty is the healthy answer.
    """
    found: list[str] = []

    def walk(node, under_range: bool) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan(), False)
            return
        if under_range and node.nodeName() in PYTHON_MAP_NODES:
            found.append(node.nodeName())
        if cls == "ShuffleExchangeExec":
            partitioning = node.outputPartitioning().getClass().getSimpleName()
            under_range = partitioning == "RangePartitioning"
        elif cls in ("BroadcastExchangeExec", "ReusedExchangeExec"):
            under_range = False
        for child in _plan_children(node):
            walk(child, under_range)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return found
