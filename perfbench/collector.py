"""Measurement helpers: process CPU and memory from ``/proc``, and
per-job-group totals read from Spark's status stores.

Both stores are read through py4j after the timed region, so reading
them adds nothing to a timed op.  They work with ``spark.ui.enabled``
off: the status listeners that fill them run either way.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces; fields resume after ')'
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / _TICKS


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot: a slow run with high steal was a busy host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICKS


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden
    ``_SUCCESS`` and ``.crc`` side files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


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
    "spill_bytes": ("memoryBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


def group_totals(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, executed stages, tasks, stage metric sums and parquet
    files read by all jobs of the named job groups.  Skipped stages
    (shuffle output reused from an earlier job) did no work and are
    not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    totals = {name: 0.0 for name in _STAGE_FIELDS}
    totals.update(jobs=len(job_ids), stages=0, tasks=0)
    for stage_id in stage_ids:
        stage = store.lastStageAttempt(stage_id)
        if stage.status().toString() == "SKIPPED":
            continue
        totals["stages"] += 1
        totals["tasks"] += stage.numCompleteTasks()
        for name, (getter, scale) in _STAGE_FIELDS.items():
            totals[name] += getattr(stage, getter)() * scale
    totals["files_read"] = _files_read(spark, set(job_ids))
    return totals


def _files_read(spark, job_ids: set[int]) -> int:
    """Sum of the scan metric "number of files read" over the SQL
    executions that ran any of ``job_ids``.  Only the latest executions
    are searched: each job belongs to one, so there are no more
    candidates than jobs."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    count = sql_store.executionsCount()
    recent = min(count, 2 * len(job_ids) + 8)
    files = 0
    for execution in _seq(sql_store.executionsList(count - recent, recent)):
        jobs = execution.jobs().keySet()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        values = sql_store.executionMetrics(execution.executionId())
        # adaptive re-plans list a scan's metric again under the same id
        ids = {m.accumulatorId() for m in _seq(execution.metrics()) if m.name() == "number of files read"}
        for acc in ids:
            value = values.get(acc)
            if value.isDefined():
                files += int(value.get().replace(",", ""))
    return files
