"""Benchmark of the stream path and the batch tail.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``BENCHMARK.json`` for why each exists): ``stream_live``,
``batch_iterative``.

Prints every metric by name with its unit, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, taken from spans and counters recorded around
each call into a layer, and the spans are written to
``.perfbench_out/spans-<workload>-seed<n>.jsonl``.  A per-layer metric
of a layer the workload does not use reads 0.  The ``traced.*`` metrics
are the end-to-end numbers measured with tracing on; tracing overhead is
each of them minus its untraced counterpart.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import batch
import stream
from harness import OUT_ROOT, ROOT
from trace import Tracer

WORKLOADS = {
    "stream_live": stream.stream_live,
    "batch_iterative": batch.batch_iterative,
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    tracer = Tracer(bool(args.trace), args.workload)
    t0 = time.perf_counter()
    res = WORKLOADS[args.workload](args.seed, args.seconds, tracer)
    total_s = time.perf_counter() - t0

    if args.trace:
        for key, value in res.e2e.items():
            res.layer[f"traced.{key}"] = value
        wanted = spec["per_layer"]
        values = res.layer
        tracer.write(str(OUT_ROOT / f"spans-{args.workload}-seed{args.seed}.jsonl"))
        for name, secs in sorted(tracer.self_times().items()):
            print(f"span self time {name} = {secs:.6f} s")
    else:
        wanted = spec["end_to_end"]
        values = res.e2e
    metrics = {}
    for m in wanted:
        measured = m["name"] in values
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        note = "" if measured else "  (layer not used by this workload)"
        print(f"{m['name']} = {metrics[m['name']]['value']:.6g} {m['unit']}{note}")
    for name, (value, unit) in sorted(res.extra.items()):
        print(f"{name} = {value:.6g} {unit}")
    print(f"error_rate = {res.failed / max(1, res.attempted):.6g} fraction")
    print(f"run_s = {total_s:.3f} s")
    for problem in res.problems:
        print(f"FAILED CHECK: {problem}")
    result = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
