"""Per-layer tracing, read from outside the engine.

Nothing here changes what the engine runs. A traced op records:

- which Spark jobs it launched: every job whose id falls between the
  DAG scheduler's next-job-id before and after the op (one client, so
  the window holds exactly the op's jobs, including the micro-batch
  jobs a streaming query runs under its own job group); the op's jobs
  are also tagged with ``setJobGroup`` so they are recognisable in the
  status store;
- per stage, ``statusStore().lastStageAttempt(id)``: tasks, executor
  run and CPU time, input/shuffle/spill bytes, submit and finish times;
- the executed plan's node counts and the cached-RDD footprint.
"""

from __future__ import annotations

import re

from stats import driver_gap

#: Stage metrics summed per op, as (record name, StageData getter, scale).
_STAGE_SUMS = (
    ("spark.tasks", "numTasks", 1),
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.input_bytes", "inputBytes", 1),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.spill_bytes", "memoryBytesSpilled", 1),
)
_NOT_RUN = ("SKIPPED", "PENDING")


class SparkProbe:
    """Reads job, stage, plan and storage facts of one SparkContext."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cores = cores

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def tag(self, label: str) -> None:
        self.sc.setJobGroup(label, label)

    def untag(self) -> None:
        """Stop tagging: jobs after the traced op carry no group."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs_summary(self, first_job: int, end_job: int,
                     start_s: float, end_s: float) -> dict:
        """Sum stage metrics over jobs [first_job, end_job) of an op that
        ran from ``start_s`` to ``end_s`` (epoch seconds)."""
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {name: 0 for name, _, _ in _STAGE_SUMS}
        intervals = []
        stages = 0
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() in _NOT_RUN:
                continue
            stages += 1
            for name, getter, scale in _STAGE_SUMS:
                out[name] += getattr(sd, getter)() * scale
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
        wall = end_s - start_s
        out["spark.jobs"] = end_job - first_job
        out["spark.stages"] = stages
        out["spark.cpu_util"] = (out["spark.executor_cpu_s"] / (wall * self.cores)
                                 if wall > 0 else 0.0)
        out["spark.driver_gap_s"] = driver_gap(start_s, end_s, intervals)
        return out

    def cached_bytes(self) -> int:
        return sum(int(r.memSize()) for r in self.jsc.getRDDStorageInfo())


# one plan-tree line: tree glyphs, an optional codegen stage marker
# "*(3) ", then the node name
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def plan_counts(plan: str) -> dict:
    """Node counts of an executed plan's string form. For an adaptive
    plan only the final plan counts, not the initial one printed after
    it."""
    final = plan.split("== Initial Plan ==")[0]
    names = [m.group(1) for m in map(_NODE.match, final.splitlines()) if m]
    return {
        "plan.exchanges": sum(n == "Exchange" for n in names),
        "plan.broadcasts": sum(n == "BroadcastExchange" for n in names),
        "plan.python_nodes": sum("Python" in n or "InPandas" in n or "InArrow" in n
                                 for n in names),
        "plan.scans": sum("Scan" in n for n in names),
    }


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()
