"""What the host engine says about the work it did, read from outside.

Spark's status store is populated with the UI off.  It is reached through
``sc._jsc.sc().statusStore()`` (a private API, checked on Spark 4.1.2),
so every read goes through :func:`group_stats`, which refuses to report a
silent zero when the store's shape changes.
"""

from __future__ import annotations

import resource


def _drain_listener_bus(sc) -> None:
    # The store is filled by an asynchronous listener; wait until every
    # event of the finished jobs has been applied.
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, executor run/CPU time and shuffle bytes of one
    job group, plus the wall-clock intervals its jobs ran in.

    Raises ``RuntimeError`` when the group has jobs and tasks but zero
    executor run and CPU time: that means the store no longer exposes the
    fields this reader expects, not that the work was free."""
    sc = spark.sparkContext
    _drain_listener_bus(sc)
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    intervals: list[tuple[float, float]] = []
    for jid in job_ids:
        job = store.job(jid)
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append(
                (
                    job.submissionTime().get().getTime() / 1e3,
                    job.completionTime().get().getTime() / 1e3,
                )
            )
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "job_intervals": intervals,
    }
    for sid in sorted(stage_ids):
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += stage.numCompleteTasks()
        out["executor_run_s"] += stage.executorRunTime() / 1e3
        out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += stage.shuffleReadBytes()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
    if out["jobs"] and out["tasks"] and not (out["executor_run_s"] or out["executor_cpu_s"]):
        raise RuntimeError(
            f"status store shows {out['jobs']} jobs and {out['tasks']} tasks in group "
            f"{group!r} but zero executor time; the store's API has changed"
        )
    return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the engine's JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return own + _vm_hwm_mb(jvm_pid(spark))


def stream_progress(query) -> list[dict]:
    """The query's ``StreamingQueryProgress`` records of batches that read data."""
    return [p for p in (dict(p) for p in query.recentProgress) if p["numInputRows"] > 0]
