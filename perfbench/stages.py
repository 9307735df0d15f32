"""Per-job and per-stage metrics from Spark's status store.

``sc.statusTracker()`` maps a job group to its jobs and a job to its
stages; ``statusStore().lastStageAttempt`` gives each stage's executor
run and CPU time, input, shuffle and spill. Both work with
``spark.ui.enabled=false``. Call ``drain`` first: the store is filled
by an asynchronous listener.
"""

from __future__ import annotations

from dataclasses import dataclass

STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "input_bytes", "input_records",
    "shuffle_bytes", "spill_bytes", "tasks",
)


@dataclass
class Job:
    start_ms: int
    end_ms: int
    totals: dict[str, float]


def drain(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _stage_totals(store, stage_id: int) -> dict[str, float]:
    sd = store.lastStageAttempt(stage_id)
    return {
        "executor_run_s": sd.executorRunTime() / 1e3,
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "input_bytes": sd.inputBytes(),
        "input_records": sd.inputRecords(),
        "shuffle_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.diskBytesSpilled(),
        "tasks": sd.numCompleteTasks(),
    }


def group_jobs(sc, group: str) -> list[Job]:
    """The finished jobs of ``group`` with their stage totals."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = []
    for job_id in tracker.getJobIdsForGroup(group):
        jd = store.job(job_id)
        if jd.completionTime().isEmpty():
            continue
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        for stage_id in set(tracker.getJobInfo(job_id).stageIds):
            for k, v in _stage_totals(store, stage_id).items():
                totals[k] += v
        jobs.append(
            Job(
                start_ms=jd.submissionTime().get().getTime(),
                end_ms=jd.completionTime().get().getTime(),
                totals=totals,
            )
        )
    return jobs
