"""Per-layer readings taken from outside the engine.

Everything here reads Spark's own bookkeeping through public handles:
job ids of a job group from the status tracker, stage metrics from the
application status store, and node names from the final (post-AQE)
physical plan.  Nothing is added to the engine's code paths.
"""

from __future__ import annotations

import time

EXEC_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
NODE_FIELDS = ("scan_nodes", "exchange_nodes", "reused_exchange_nodes", "python_exec_nodes")


class StatusReader:
    """Reads job/stage metrics of a job group once its jobs have ended."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def _ended_job(self, job_id: int, timeout: float = 10.0):
        # The listener bus updates the store asynchronously; an action
        # can return before its job-end event has been processed.
        from py4j.protocol import Py4JJavaError

        deadline = time.monotonic() + timeout
        while True:
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # not in the store yet
                job = None
            if job is not None and job.status().toString() != "RUNNING":
                return job
            if time.monotonic() > deadline:
                raise TimeoutError(f"job {job_id} did not end in the status store")
            time.sleep(0.002)

    def exec_metrics(self, job_ids: list[int]) -> dict:
        out = dict.fromkeys(EXEC_FIELDS, 0)
        out["jobs"] = len(job_ids)
        run_ms = cpu_ns = 0
        stage_run_s = []
        for job_id in job_ids:
            it = self._ended_job(job_id).stageIds().iterator()
            while it.hasNext():
                stage = self._store.lastStageAttempt(it.next())
                if stage.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                run_ms += stage.executorRunTime()
                cpu_ns += stage.executorCpuTime()
                stage_run_s.append(stage.executorRunTime() / 1e3)
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        out["task_s"] = run_ms / 1e3
        out["task_cpu_s"] = cpu_ns / 1e9
        out["max_stage_task_s"] = max(stage_run_s, default=0.0)
        return out


def _children(node) -> list:
    kids = []
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())  # the final plan once executed
    elif cls.endswith("QueryStageExec"):
        kids.append(node.plan())
    elif cls == "InMemoryTableScanExec":
        kids.append(node.relation().cachedPlan())
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            kids.append(it.next())
    return kids


def plan_node_counts(plan) -> dict:
    """Scan, exchange, reused-exchange and Python-exec node counts of a
    physical plan, walking through AQE stages, cached relations and
    subqueries."""
    out = dict.fromkeys(NODE_FIELDS, 0)
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("Scan") or name.startswith("BatchScan"):
            out["scan_nodes"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            out["exchange_nodes"] += 1
        elif name == "ReusedExchange":
            out["reused_exchange_nodes"] += 1
        if ".execution.python." in node.getClass().getName():
            out["python_exec_nodes"] += 1
        stack.extend(_children(node))
    return out


def idle_slot_frac(task_s: float, wall_s: float, cores: int) -> float:
    """Share of the task slots left idle over ``wall_s``."""
    if wall_s <= 0:
        return 0.0
    return 1.0 - task_s / (wall_s * cores)
