"""Per-job-group stage totals read from Spark's status store.

Run the work under :func:`job_group`, then read :func:`group_totals`
after the timed region, so reading adds nothing to a timed op.  The
status listener fills the store whether or not ``spark.ui.enabled`` is
set, so neither the web UI nor its REST API is needed.  A long sweep
should raise ``spark.ui.retainedStages`` and ``spark.ui.retainedJobs``,
which size this store too, so a group's stages are still there when it
is read.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def job_group(spark, name: str):
    """Run the enclosed actions under Spark job group ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


#: per-stage StageData accessors summed into a group's totals
_STAGE_FIELDS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    # bytes spilled from memory; diskBytesSpilled is the same spill's
    # on-disk (serialized) size, so adding it would count it twice
    "spill_bytes": ("memoryBytesSpilled", 1),
}


def group_totals(spark, groups: list[str]) -> dict[str, float]:
    """Executed stages, their tasks and summed stage metrics over all
    jobs of the named job groups, plus ``shuffle_stages``: how many of
    those stages wrote shuffle output.  A skipped stage (shuffle output
    reused from an earlier job) did no work and is not counted."""
    sc = spark.sparkContext
    # an action returns before the status listener has handled its
    # job's last events (a reused stage is marked SKIPPED at job end)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    totals = {name: 0.0 for name in _STAGE_FIELDS}
    totals.update(stages=0, shuffle_stages=0, tasks=0)
    for stage_id in stage_ids:
        stage = store.lastStageAttempt(stage_id)
        if stage.status().toString() == "SKIPPED":
            continue
        totals["stages"] += 1
        totals["shuffle_stages"] += stage.shuffleWriteBytes() > 0
        totals["tasks"] += stage.numCompleteTasks()
        for name, (getter, scale) in _STAGE_FIELDS.items():
            totals[name] += getattr(stage, getter)() * scale
    return totals
