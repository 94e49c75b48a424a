"""Spark-side counts for the traced run: jobs, stages and tasks per
operation (one job group per operation, read from the status tracker)
and the rows the remote scan nodes produced (from the executed plan)."""

from __future__ import annotations


def begin_op(spark, op: int) -> None:
    spark.sparkContext.setJobGroup(f"perfbench-op-{op}", "perfbench operation")


def tasks_and_stages(spark, op: int) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(f"perfbench-op-{op}"):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numTasks
    return tasks, len(stages)


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def scan_rows(df) -> int:
    """Rows output by the DataSource scan nodes of df's executed plan
    (the remote rows Spark received), after df has been collected."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "BatchScanExec":
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += int(metric.get().value())
        todo.extend(_children(node))
    return total
