"""Checkpoint lifetime for the iterative operators.

An iterative operator (PageRank, label propagation, BFS, connected
components, ...) cuts its lineage with an eager ``localCheckpoint`` per
round, so the plan does not grow with the round count. The release
policy, stated once for all of them: every checkpoint an operator pins
is freed as soon as nothing reachable reads it — a superseded round as
soon as its successor has materialized (O(1) rounds of block-manager
storage), everything else when the call ends, on a normal return or an
exception — except the frames the returned result reads. A completed
call therefore leaves exactly the checkpoint(s) behind its result. At
deployment scale the same policy applies to a durable ``checkpoint()``
on a checkpoint dir on durable storage, so lineage truncation survives
executor loss.

Usage::

    with CheckpointScope() as scope:
        r = scope.pin(init_plan)
        for _ in range(rounds):
            r = scope.pin(round_plan(r), replaces=r)
        return scope.keep(r)
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import Column, DataFrame, Observation

log = logging.getLogger(__name__)

#: Number of :func:`release_checkpoint` calls that raised in this
#: process. Each one left a checkpoint's blocks resident until session end.
release_failures = 0
_release_failures_lock = threading.Lock()


def release_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage behind a ``localCheckpoint()``-ed
    DataFrame whose data has been fully consumed downstream.

    ``Dataset.unpersist()`` only covers cache-manager entries (verified:
    it leaves localCheckpoint blocks resident), so reach through the
    plan's ``LogicalRDD`` to the persisted RDD itself. A plan that is not
    a ``LogicalRDD`` holds no checkpoint: nothing to free. Best-effort by
    design — py4j internals; a failure only leaves the blocks held until
    session end, so it is counted in ``release_failures`` (and logged the
    first time) instead of raised.
    """
    global release_failures
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        with _release_failures_lock:
            release_failures += 1
            first = release_failures == 1
        if first:
            log.warning(
                "could not release a local checkpoint; its blocks stay "
                "resident until session end (further failures are only "
                "counted in stages.release_failures)",
                exc_info=True,
            )


class CheckpointScope:
    """The checkpoints one operator call pinned. On exit, releases every
    pinned frame that was neither kept nor already released."""

    def __init__(self) -> None:
        self._pinned: list[DataFrame] = []

    def __enter__(self) -> CheckpointScope:
        return self

    def __exit__(self, *exc_info) -> None:
        self.release(*self._pinned)

    def pin(
        self,
        df: DataFrame,
        *,
        observe: Column | None = None,
        replaces: DataFrame | None = None,
    ):
        """Eagerly checkpoint ``df`` and record it. With ``observe`` (one
        named aggregate), the metric rides the checkpoint's own job and
        ``(frame, value)`` is returned. ``replaces`` is released once the
        new frame has materialized: the superseded round of a loop."""
        obs = Observation()
        ck = (df if observe is None else df.observe(obs, observe)).localCheckpoint()
        self._pinned.append(ck)
        self.release(replaces)
        if observe is None:
            return ck
        (value,) = obs.get.values()
        return ck, value

    def release(self, *frames: DataFrame | None) -> None:
        """Free pinned frames early. Anything not pinned here (None, or a
        frame already released or kept) is skipped, so aliases are safe."""
        for df in frames:
            if any(p is df for p in self._pinned):
                self._pinned = [p for p in self._pinned if p is not df]
                release_checkpoint(df)

    def keep(self, df: DataFrame) -> DataFrame:
        """Exempt a frame the returned result reads from the release on
        exit; returns it."""
        self._pinned = [p for p in self._pinned if p is not df]
        return df
