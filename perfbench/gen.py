"""Seeded load generator for the stream workload.

Envelope records (the ``RECORD_SCHEMA`` columns) are written as
parquet through pyarrow, never through Spark, so generation competes with
the engine only for CPU.  Every file is written into a staging directory
next to the stream directory and then renamed into place, so the file
source never lists a half-written file.

- ``backlog`` writes a whole backlog at once (the catch-up input).
- ``live`` is an open-loop schedule in one single-threaded process: file
  ``k`` (``LIVE_PER_FILE`` records) is due at ``start + k / LIVE_RATE``.  The schedule never waits for the
  engine; a file that is written late is still stamped with its due time
  (``approximateArrivalTimestamp``), and the lateness is reported as
  ``late_ms_max``.

The seed fixes partition keys (Zipf over 5,000 users, so shards are
uneven), the 56-digit per-shard sequence numbers and the ~85-byte JSON
payloads.  :func:`records` is the single source of truth: the benchmark
calls it again to know exactly what was generated.

Run ``python3 gen.py live --help`` for the process interface.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 4
N_USERS = 5000
ZIPF_S = 1.1
#: a sequence number is a 36-digit per-shard prefix and a 20-digit counter
SEQ_COUNTER_DIGITS = 20
SEQ_STRIDE = 7919
EVENT_TYPES = ("view", "click", "cart", "purchase", "share")
#: backlog (catch-up) files: 1,000 records each
BACKLOG_PER_FILE = 1000
#: live feed: one 500-record file every 250 ms, 2,000 records/s
LIVE_PER_FILE = 500
LIVE_RATE = 4.0

SCHEMA = pa.schema(
    [
        pa.field("partitionKey", pa.string(), nullable=False),
        pa.field("data", pa.binary()),
        pa.field("sequenceNumber", pa.string(), nullable=False),
        pa.field("subSequenceNumber", pa.int64(), nullable=False),
        pa.field("shardId", pa.string(), nullable=False),
        pa.field("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def shard_name(shard: int) -> str:
    return f"shardId-{shard:012d}"


def seq_prefixes(seed: int) -> list[int]:
    """The 36-digit leading part of each shard's sequence numbers."""
    rng = np.random.default_rng([seed, 1])
    return [
        int("49" + "".join(str(d) for d in rng.integers(0, 10, 34))) for _ in range(N_SHARDS)
    ]


def seq_value(prefix: int, counter: int) -> int:
    return prefix * 10**SEQ_COUNTER_DIGITS + counter * SEQ_STRIDE


def seq_counter(prefix: int, seq: int) -> int:
    """Inverse of :func:`seq_value`."""
    return (seq - prefix * 10**SEQ_COUNTER_DIGITS) // SEQ_STRIDE


@dataclass
class Records:
    """``n`` generated records in generation order."""

    user: np.ndarray  # int64 partition keys
    shard: np.ndarray  # int8 shard index
    counter: np.ndarray  # int64 per-shard counter (monotone within a shard)
    prefixes: list[int]
    payload: list[bytes]

    def __len__(self) -> int:
        return len(self.user)


def records(seed: int, n: int) -> Records:
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    weights = ranks**-ZIPF_S
    user = rng.choice(N_USERS, size=n, p=weights / weights.sum()).astype(np.int64)
    shard_of_user = np.array(
        [zlib.crc32(str(u).encode()) % N_SHARDS for u in range(N_USERS)], dtype=np.int8
    )
    shard = shard_of_user[user]
    counter = np.empty(n, dtype=np.int64)
    for s in range(N_SHARDS):
        mask = shard == s
        counter[mask] = np.arange(int(mask.sum()), dtype=np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.gamma(2.0, 25.0, n), 2)
    props = rng.integers(0, 2**62, (n, 2))
    payload = [
        (
            f'{{"event_type":"{EVENT_TYPES[e]}","value":{v},'
            f'"props":"{a:016x}{b:016x}-{u}"}}'
        ).encode()
        for e, v, (a, b), u in zip(etype.tolist(), value.tolist(), props.tolist(), user.tolist())
    ]
    return Records(user, shard, counter, seq_prefixes(seed), payload)


def _table(recs: Records, lo: int, hi: int, due_us: int) -> pa.Table:
    shard = recs.shard[lo:hi].tolist()
    counter = recs.counter[lo:hi].tolist()
    return pa.Table.from_arrays(
        [
            pa.array([str(u) for u in recs.user[lo:hi].tolist()], pa.string()),
            pa.array(recs.payload[lo:hi], pa.binary()),
            pa.array(
                [str(seq_value(recs.prefixes[s], c)) for s, c in zip(shard, counter)], pa.string()
            ),
            pa.array(np.zeros(hi - lo, dtype=np.int64)),
            pa.array([shard_name(s) for s in shard], pa.string()),
            pa.array(np.full(hi - lo, due_us, dtype=np.int64), pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )


def _drop(table: pa.Table, stream_dir: str, staging_dir: str, index: int) -> None:
    """Stage one file, then rename it into place.  The file keeps the
    modification time of its write."""
    name = f"part-{index:06d}.parquet"
    staged = os.path.join(staging_dir, name)
    pq.write_table(table, staged)
    os.rename(staged, os.path.join(stream_dir, name))


def staging_dir_for(stream_dir: str) -> str:
    return stream_dir.rstrip("/") + ".staging"


def write_backlog(stream_dir: str, seed: int, n_files: int) -> None:
    """``n_files`` files, all due now, written back to back."""
    staging = staging_dir_for(stream_dir)
    os.makedirs(stream_dir, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    per_file = BACKLOG_PER_FILE
    recs = records(seed, n_files * per_file)
    due_us = int(time.time() * 1e6)
    for k in range(n_files):
        table = _table(recs, k * per_file, (k + 1) * per_file, due_us)
        _drop(table, stream_dir, staging, k)


def live_due_s(start_s: float, k) -> float:
    """Due time (epoch seconds) of live file ``k``."""
    return start_s + k / LIVE_RATE


def run_live(stream_dir: str, seed: int, n_files: int, start_s: float) -> dict:
    """Open-loop drop of ``n_files`` files, file ``k`` due at
    :func:`live_due_s`.  Returns the generator's own counters."""
    staging = staging_dir_for(stream_dir)
    os.makedirs(staging, exist_ok=True)
    recs = records(seed, n_files * LIVE_PER_FILE)
    late_max = 0.0
    for k in range(n_files):
        due = live_due_s(start_s, k)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        lo, hi = k * LIVE_PER_FILE, (k + 1) * LIVE_PER_FILE
        _drop(_table(recs, lo, hi, int(due * 1e6)), stream_dir, staging, k)
        late_max = max(late_max, (time.time() - due) * 1e3)
    return {"gen.files": n_files, "gen.records": n_files * LIVE_PER_FILE, "gen.late_ms_max": late_max}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    live = sub.add_parser("live", help="open-loop file drop; prints its counters as JSON")
    live.add_argument("--out", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--files", type=int, required=True)
    live.add_argument("--start", type=float, required=True, help="epoch seconds of file 0")
    args = ap.parse_args(argv)
    counters = run_live(args.out, args.seed, args.files, args.start)
    print(json.dumps(counters), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
