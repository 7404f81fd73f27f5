"""The stream workload: envelope files -> ``consumer.source`` ->
``delivery.foreach_batch_commit_flow`` (process = ``decode_json_payload`` +
parquet append) -> one checkpointer per shard, run by
``delivery.run_at_least_once``.  Two measured phases share one session:

- catch-up: a backlog is on disk before the query starts; each round
  drains it under ``availableNow`` with a fresh checkpoint, sink and
  tracker.  Throughput is records over the round's wall time.
- live: the query runs on the default trigger while ``gen.py live`` drops
  files open-loop.  A record's latency runs from its due time to the first
  checkpointer call on its shard with a sequence number at or above its
  own.  Records due in the first ``LIVE_WARMUP_S`` are warm-up; those due
  in the ``seconds`` after them are measured.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen
import sparkstats
from harness import CPUS, Result, engine_on_path, p50, pct, spark_session, workdir
from trace import Tracer

engine_on_path()
from kinesis_stream_spark.checkpoint import CheckpointTracker  # noqa: E402

#: with ``gen.BACKLOG_PER_FILE`` records a file, a catch-up micro-batch
#: holds 10,000 records
FILES_PER_TRIGGER = 10
CATCHUP_FILES = 50
CATCHUP_ROUNDS = 2
#: the backlog and the warm-up get inputs of their own, derived from the seed
BACKLOG_SEED_OFFSET = 500_009
WARM_SEED_OFFSET = 1_000_003
LIVE_WARMUP_S = 3.0
LIVE_LEAD_S = 2.0
WARM_FILES = 20
QUERY_TIMEOUT_S = 60

DURATION_KEYS = {
    "queryPlanning": "spark.stream.query_planning_ms",
    "addBatch": "spark.stream.add_batch_ms",
    "walCommit": "spark.stream.wal_commit_ms",
    "commitOffsets": "spark.stream.commit_offsets_ms",
    "triggerExecution": "spark.stream.trigger_execution_ms",
    "latestOffset": "consumer.latest_offset_ms",
    "getBatch": "consumer.get_batch_ms",
}


class TimedTracker(CheckpointTracker):
    """A ``CheckpointTracker`` that times every ``track``, ``process`` and
    ``checkpoint_if_needed`` call the commit flow makes into it, records a
    span around each, and counts checkpoint attempts, commits and forced
    attempts."""

    def __init__(self, worker_id: str, tracer: Tracer) -> None:
        super().__init__(worker_id=worker_id)
        self.tracer = tracer
        #: span of the micro-batch the calls belong to
        self.parent = None
        self.call_s: dict[str, list[float]] = defaultdict(list)
        self.attempts = self.committed = self.forced = self.pending_max = 0

    def _timed(self, name: str, fn, shard_id: str, *args, **kwargs):
        with self.tracer.span(f"checkpoint.{name}", parent=self.parent, item=shard_id):
            t = time.perf_counter()
            out = fn(shard_id, *args, **kwargs)
            self.call_s[name].append(time.perf_counter() - t)
        return out

    def track(self, shard_id, seqs):
        return self._timed("track", super().track, shard_id, seqs)

    def process(self, shard_id, seq):
        return self._timed("process", super().process, shard_id, seq)

    def checkpoint_if_needed(self, shard_id, checkpointer, *, force=False):
        self.attempts += 1
        self.forced += bool(force)
        # sequence numbers tracked and not yet checkpointed
        self.pending_max = max(self.pending_max, len(self._get(shard_id).tracked))
        out = self._timed(
            "checkpoint_if_needed", super().checkpoint_if_needed, shard_id, checkpointer,
            force=force,
        )
        self.committed += out is not None
        return out


class Run:
    """One streaming query through the engine's public stream surface."""

    def __init__(self, spark, stream_dir: Path, work: Path, name: str, tracer: Tracer, parent):
        self.spark, self.stream_dir, self.name = spark, stream_dir, name
        self.work, self.tracer, self.parent = work, tracer, parent
        self.sink = work / f"sink-{name}"
        # the untraced run measures the engine's own tracker
        self.tracker = (
            TimedTracker(name, tracer) if tracer.enabled else CheckpointTracker(worker_id=name)
        )
        #: per shard: (epoch s, seq, batch id) of every checkpointer call
        self.commits: dict[str, list[tuple[float, int, int]]] = defaultdict(list)
        self.batches: list[tuple[float, float]] = []  # (batch fn s, process fn s)
        self._batch_span = None
        self._batch_id = -1
        self._process_s = 0.0

    def _checkpointer(self, shard: str):
        commits = self.commits[shard]
        tracer, parent, batch_id = self.tracer, self._batch_span, self._batch_id

        def commit(seq) -> None:
            with tracer.span("checkpoint.checkpointer", parent=parent, item=shard):
                commits.append((time.time(), seq.seq, batch_id))

        return commit

    def _process(self, df) -> None:
        from kinesis_stream_spark.streaming.envelope import decode_json_payload

        t0 = time.perf_counter()
        with self.tracer.span("delivery.process_fn", parent=self._batch_span, item=self.name):
            decode_json_payload(df).write.mode("append").parquet(str(self.sink))
        self._process_s = time.perf_counter() - t0

    def start(self, *, available_now: bool) -> None:
        from kinesis_stream_spark.streaming.consumer import ConsumerConfig, InitialPosition, source
        from kinesis_stream_spark.streaming.delivery import (
            foreach_batch_commit_flow,
            run_at_least_once,
        )

        cfg = ConsumerConfig(
            stream_path=str(self.stream_dir),
            app_name=self.name,
            checkpoint_root=str(self.work / "checkpoints"),
            initial_position=InitialPosition.TRIM_HORIZON,
            max_files_per_trigger=FILES_PER_TRIGGER,
        )
        t0 = time.perf_counter()
        with self.tracer.span("consumer.source", parent=self.parent, item=self.name):
            records = source(self.spark, cfg)
        self.source_s = time.perf_counter() - t0
        flow = foreach_batch_commit_flow(self.tracker, self._process, self._checkpointer)

        def batch_fn(df, batch_id: int) -> None:
            sid = self.tracer.begin("delivery.batch_fn", parent=self.parent, item=f"{self.name}/{batch_id}")
            self._batch_span, self._batch_id, self._process_s = sid, batch_id, 0.0
            if self.tracer.enabled:
                self.tracker.parent = sid
            t0 = time.perf_counter()
            try:
                flow(df, batch_id)
            finally:
                self.batches.append((time.perf_counter() - t0, self._process_s))
                self.tracer.end(sid)

        self.started = time.time()
        self.query = run_at_least_once(records, cfg, batch_fn, available_now=available_now)

    def await_end(self) -> None:
        if not self.query.awaitTermination(QUERY_TIMEOUT_S):
            self.query.stop()
            raise TimeoutError(f"{self.name}: stream did not drain in {QUERY_TIMEOUT_S}s")
        self.ended = time.time()

    def committed_counter(self, shard: str, prefix: int) -> int:
        commits = self.commits.get(shard)
        return gen.seq_counter(prefix, commits[-1][1]) if commits else -1

    def records_per_batch(self, prefixes: list[int]) -> dict[int, tuple[float, int]]:
        """Batch id -> (time of its last checkpoint, records it carried),
        from the checkpointed per-shard counters (the progress report's
        ``numInputRows`` counts every scan of the batch, not records)."""
        out: dict[int, tuple[float, int]] = {}
        for s, prefix in enumerate(prefixes):
            prev = -1
            for t, seq, batch_id in self.commits.get(gen.shard_name(s), []):
                counter = gen.seq_counter(prefix, seq)
                t0, n = out.get(batch_id, (0.0, 0))
                out[batch_id] = (max(t0, t), n + counter - prev)
                prev = counter
        return out


def check(run: Run, recs: gen.Records, res: Result) -> None:
    """Every generated (shard, seq) is in the sink and decoded; each shard's
    last checkpoint is its highest generated seq; the tracker is complete."""
    res.attempted += len(recs)
    table = pq.read_table(run.sink, columns=["shardId", "sequenceNumber", "event_type"])
    got = set(zip(table.column("shardId").to_pylist(), table.column("sequenceNumber").to_pylist()))
    expected = {
        (gen.shard_name(s), str(gen.seq_value(recs.prefixes[s], c)))
        for s, c in zip(recs.shard.tolist(), recs.counter.tolist())
    }
    res.fail(len(expected - got), f"{run.name}: record missing from the sink")
    res.fail(len(got - expected), f"{run.name}: record in the sink that was never generated")
    res.fail(table.column("event_type").null_count, f"{run.name}: payload not decoded")
    for s in range(gen.N_SHARDS):
        shard = gen.shard_name(s)
        want = int(recs.counter[recs.shard == s].max())
        counters = [gen.seq_counter(recs.prefixes[s], seq) for _, seq, _ in run.commits.get(shard, [])]
        ok = (
            bool(counters)
            and counters[-1] == want
            and all(a < b for a, b in zip(counters, counters[1:]))
            and run.tracker.start_shard(shard).is_complete
        )
        res.fail(int(not ok), f"{run.name}/{shard}: checkpoints not monotone up to the last seq")


def mtime_ties(stream_dir: Path) -> int:
    """Files that share their modification time, at the millisecond
    resolution the file source lists it in, with the file written just
    before them.  The source reads files in modification-time order; the
    order of tied files is undefined, so a tie can put a shard's records
    out of order."""
    ms = [p.stat().st_mtime_ns // 1_000_000 for p in sorted(stream_dir.iterdir())]
    return sum(a == b for a, b in zip(ms, ms[1:]))


def commit_latency_s(run: Run, recs: gen.Records, due: np.ndarray) -> np.ndarray:
    """Per record: first checkpoint on its shard at or above its seq, minus
    its due time (NaN when never checkpointed)."""
    out = np.full(len(recs), np.nan)
    for s in range(gen.N_SHARDS):
        commits = run.commits.get(gen.shard_name(s), [])
        if not commits:
            continue
        times = np.array([t for t, _, _ in commits])
        reached = np.maximum.accumulate(
            np.array([gen.seq_counter(recs.prefixes[s], q) for _, q, _ in commits])
        )
        mask = recs.shard == s
        idx = np.searchsorted(reached, recs.counter[mask], side="left")
        hit = idx < len(times)
        lat = np.full(int(mask.sum()), np.nan)
        lat[hit] = times[idx[hit]] - due[mask][hit]
        out[mask] = lat
    return out


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_layers(progress: list[dict], out: dict) -> None:
    """Per-batch medians from ``StreamingQueryProgress.durationMs``."""
    for key, name in DURATION_KEYS.items():
        out[name] = p50([p["durationMs"].get(key, 0) for p in progress])
    spans = sorted(
        (_epoch(p["timestamp"]), _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3)
        for p in progress
    )
    gaps = [(b0 - a1) * 1e3 for (_, a1), (b0, _) in zip(spans, spans[1:])]
    out["consumer.inter_batch_gap_ms"] = p50(gaps)


def batch_layers(runs: list[Run], out: dict) -> None:
    fn = [b for r in runs for b, _ in r.batches]
    proc = [p for r in runs for _, p in r.batches]
    out["delivery.batch_fn_ms"] = p50(fn) * 1e3
    out["delivery.process_fn_ms"] = p50(proc) * 1e3
    out["delivery.commit_overhead_ms"] = p50([b - p for b, p in zip(fn, proc)]) * 1e3
    out["delivery.micro_batches"] = len(fn)
    out["consumer.source_s"] = sum(r.source_s for r in runs)


def tracker_layers(tracker: TimedTracker, out: dict) -> None:
    for name in ("track", "process", "checkpoint_if_needed"):
        out[f"tracker.{name}_us"] = p50(tracker.call_s[name]) * 1e6
    out["tracker.checkpoint_attempts"] = tracker.attempts
    out["tracker.checkpoints_committed"] = tracker.committed
    out["tracker.checkpoint_yield"] = tracker.committed / max(1, tracker.attempts)
    out["tracker.checkpoints_by_cause.force"] = tracker.forced
    out["tracker.pending_acks_max"] = tracker.pending_max


def spark_layers(spark, runs: list[Run], out: dict) -> None:
    """Status-store totals per run (one job group per stream run), as medians."""
    per_run = []
    for r in runs:
        st = sparkstats.group_stats(spark, str(r.query.runId))
        wall = r.ended - r.started
        busy = sparkstats.busy_seconds(st["job_intervals"], r.started, r.ended)
        st["driver_idle_s"] = wall - busy
        st["executor_busy_frac"] = st["executor_run_s"] / (wall * CPUS)
        st["batches"] = len(r.batches)
        per_run.append(st)
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "driver_idle_s", "executor_busy_frac"):
        out[f"spark.{key}"] = p50([st[key] for st in per_run])
    out["delivery.jobs_per_batch"] = sum(st["jobs"] for st in per_run) / max(
        1, sum(st["batches"] for st in per_run)
    )


def _warm(spark, work: Path, seed: int) -> None:
    """One untimed catch-up over a small backlog: JIT, codegen and the
    sink's first write happen here instead of in the measured window."""
    warm_dir = work / "warm-stream"
    gen.write_backlog(str(warm_dir), seed + WARM_SEED_OFFSET, WARM_FILES)
    run = Run(spark, warm_dir, work, "warm", Tracer(False, "warm"), None)
    run.start(available_now=True)
    run.await_end()


def _catchup(spark, work: Path, backlog: Path, seed: int, tracer: Tracer, top, res: Result) -> list[Run]:
    """``CATCHUP_ROUNDS`` drains of the same backlog; the best one sets the
    throughput."""
    runs, rates = [], []
    recs = gen.records(seed + BACKLOG_SEED_OFFSET, CATCHUP_FILES * gen.BACKLOG_PER_FILE)
    for i in range(CATCHUP_ROUNDS):
        run = Run(spark, backlog, work, f"catchup{i}", tracer, top)
        t = time.perf_counter()
        run.start(available_now=True)
        run.await_end()
        rates.append(len(recs) / (time.perf_counter() - t))
        runs.append(run)
    for run in runs:
        check(run, recs, res)
        lat = commit_latency_s(run, recs, np.full(len(recs), run.started))
        res.fail(int(np.isnan(lat).sum()), f"{run.name}: record never checkpointed")
    res.extra["gen.backlog_mtime_ties"] = (mtime_ties(backlog), "count")
    # the best round (min-of-N): on a shared host noise only adds time
    res.e2e["throughput_per_s"] = max(rates)
    res.extra["stream.catchup_records_per_s"] = (res.e2e["throughput_per_s"], "rec/s")
    return runs


def stream_live(seed: int, seconds: float, tracer: Tracer) -> Result:
    res = Result()
    with workdir("stream_live") as work:
        t0 = time.perf_counter()
        with spark_session(work) as (spark, start_s):
            backlog = work / "backlog"
            gen.write_backlog(str(backlog), seed + BACKLOG_SEED_OFFSET, CATCHUP_FILES)
            _warm(spark, work, seed)
            res.e2e["setup_s"] = time.perf_counter() - t0
            residue0 = sparkstats.persisted_rdds(spark)
            top = tracer.begin("stream_live.measure")
            catchup_runs = _catchup(spark, work, backlog, seed, tracer, top, res)

            # files due in the warm-up and in the ``seconds`` measured after it
            n_files = math.ceil((LIVE_WARMUP_S + seconds) * gen.LIVE_RATE)
            stream_dir = work / "stream"
            stream_dir.mkdir()
            run = Run(spark, stream_dir, work, "live", tracer, top)
            run.start(available_now=False)
            start = time.time() + LIVE_LEAD_S
            cmd = [
                sys.executable, str(Path(__file__).with_name("gen.py")), "live",
                "--out", str(stream_dir), "--seed", str(seed), "--files", str(n_files),
                "--start", repr(start),
            ]
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
            try:
                out, _ = proc.communicate(timeout=LIVE_LEAD_S + n_files / gen.LIVE_RATE + 60)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            if proc.returncode != 0:
                run.query.stop()
                raise RuntimeError(f"load generator exited with {proc.returncode}")
            gen_counters = json.loads(out.strip().splitlines()[-1])

            recs = gen.records(seed, n_files * gen.LIVE_PER_FILE)
            deadline = time.time() + QUERY_TIMEOUT_S
            wanted = {s: int(recs.counter[recs.shard == s].max()) for s in range(gen.N_SHARDS)}
            while time.time() < deadline and any(
                run.committed_counter(gen.shard_name(s), recs.prefixes[s]) < want
                for s, want in wanted.items()
            ):
                time.sleep(0.02)
            run.query.stop()
            run.ended = time.time()
            tracer.end(top)
            residue = sparkstats.persisted_rdds(spark) - residue0

            check(run, recs, res)
            file_of = np.arange(len(recs)) // gen.LIVE_PER_FILE
            due = gen.live_due_s(start, file_of)
            lat = commit_latency_s(run, recs, due)
            res.fail(int(np.isnan(lat).sum()), "record never checkpointed")
            window0 = start + LIVE_WARMUP_S
            measured = due >= window0
            lat_ms = lat[measured & ~np.isnan(lat)] * 1e3
            last_commit = np.nanmax(lat[measured] + due[measured])
            res.extra["stream.live_records_per_s"] = (int(measured.sum()) / (last_commit - window0), "rec/s")
            res.e2e["latency_p50_ms"] = pct(lat_ms, 50)
            res.e2e["latency_p90_ms"] = pct(lat_ms, 90)
            res.extra["stream.commit_latency_p50_ms"] = (res.e2e["latency_p50_ms"], "ms")
            res.extra["stream.commit_latency_p90_ms"] = (res.e2e["latency_p90_ms"], "ms")
            res.extra["stream.records_measured"] = (len(lat_ms), "count")
            res.extra["stream.files_measured"] = (len(np.unique(file_of[measured])), "count")
            progress = [
                p for p in sparkstats.stream_progress(run.query) if _epoch(p["timestamp"]) >= window0
            ]
            res.extra["stream.batches_measured"] = (len(progress), "count")
            res.extra["gen.late_ms_max"] = (gen_counters["gen.late_ms_max"], "ms")

            if tracer.enabled:
                lay = res.layer
                lay["session.get_spark_s"] = start_s
                progress_layers(progress, lay)
                batch_layers([run], lay)
                tracker_layers(run.tracker, lay)
                spark_layers(spark, [run], lay)
                lay["queries.persisted_rdd_residue"] = residue
                behind, done = [], 0
                per_batch = run.records_per_batch(recs.prefixes)
                for batch_id in sorted(per_batch):
                    end, n = per_batch[batch_id]
                    done += n
                    if end >= window0:
                        due_files = min(n_files, math.floor((end - start) * gen.LIVE_RATE) + 1)
                        behind.append(due_files - done // gen.LIVE_PER_FILE)
                lay["consumer.records_per_batch"] = p50(
                    [n for end, n in per_batch.values() if end >= window0]
                )
                lay["consumer.backlog_files_max"] = max(behind, default=0)
                lay["consumer.backlog_files_end"] = behind[-1] if behind else 0
                lay.update(gen_counters)
                catchup = [p for r in catchup_runs for p in sparkstats.stream_progress(r.query)]
                caught: dict = {}
                progress_layers(catchup, caught)
                lay["consumer.catchup_inter_batch_gap_ms"] = caught["consumer.inter_batch_gap_ms"]
                lay["spark.stream.catchup_trigger_execution_ms"] = caught["spark.stream.trigger_execution_ms"]
            res.e2e["peak_rss_mb"] = sparkstats.peak_rss_mb(spark)
    return res
