"""Spark-side layer readings: stage metrics from the status store, and node
counts and join row counts from the executed plan.

Both are read from outside the engine, around each action the benchmark
times, so the package itself carries no measurement code.
"""

from __future__ import annotations

import re

STAGE_FIELDS = ("executor_cpu_s", "executor_run_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "stages", "tasks")


class StageDelta:
    """Sums the metrics of stages that completed after ``mark()``.

    Uses the five-argument ``AppStatusStore.stageList`` over py4j, which
    works with ``spark.ui.enabled=false``. Stage ids only grow, so the stages
    of one action are those with an id above the previous high-water mark.
    The listener bus is drained first, since stage completion reaches the
    store asynchronously after the action returns.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._gw = self._sc._gateway
        self._high = self._max_stage_id()

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        seq = self._sc._jsc.sc().statusStore().stageList(
            empty, False, False, quantiles, self._jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def _max_stage_id(self) -> int:
        self._drain()
        return max((s.stageId() for s in self._stages()), default=-1)

    def mark(self) -> None:
        self._high = self._max_stage_id()

    def collect(self) -> dict[str, float]:
        """Metrics of the stages completed since the last mark; re-marks."""
        self._drain()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        high = self._high
        for s in self._stages():
            sid = s.stageId()
            high = max(high, sid)
            if sid <= self._high or s.status().toString() != "COMPLETE":
                continue
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
        self._high = high
        return out


PLAN_FIELDS = ("exchanges", "broadcasts", "sorts", "python_nodes")

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def plan_counts(tree: str) -> dict[str, int]:
    """Node counts of a physical plan tree string.

    ``Exchange`` is a shuffle, ``BroadcastExchange`` a broadcast, ``Sort`` a
    sort; a Python node is any operator that ships rows to Python workers
    (``ArrowEvalPython``, ``BatchEvalPython``, ``MapInPandas``,
    ``FlatMapGroupsInPandas`` and their kin). The plan under an
    ``InMemoryRelation`` built the cache and does not run again, so it is
    skipped.
    """
    out = dict.fromkeys(PLAN_FIELDS, 0)
    skip_below = None
    for line in tree.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        depth = m.start(1)
        if skip_below is not None:
            if depth > skip_below:
                continue
            skip_below = None
        name = m.group(1)
        if name == "InMemoryRelation":
            skip_below = depth
        if name in ("Exchange", "ShuffleExchange"):
            out["exchanges"] += 1
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
        elif name == "Sort":
            out["sorts"] += 1
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            out["python_nodes"] += 1
    return out


def final_plan(df) -> str:
    """Tree string of the plan a finished action ran.

    Under AQE the executed plan is an ``AdaptiveSparkPlan`` whose string shows
    both the final and the initial plan; only the final (current) one is
    taken. Call after an action on ``df`` itself (``collect``), which runs
    ``df``'s own query execution.
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.treeString()


def _plan_nodes(plan):
    """Every node of an executed plan, through AQE query stages. The plan
    that built a cached table sits behind its scan and is not visited."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))


def join_output_rows(df) -> int:
    """Rows the joins of a finished action produced, summed over its join
    nodes (their ``numOutputRows`` SQL metric). Call after an action on
    ``df`` itself."""
    total = 0
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if "Join" in node.getClass().getSimpleName():
            total += node.metrics().apply("numOutputRows").value()
    return total
