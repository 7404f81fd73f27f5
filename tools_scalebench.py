#!/usr/bin/env python
"""Scaling-measurement companion to ``bench.py`` (not the driver
contract): times a SUBSET of the declared
queries at an arbitrary ``SPARK_GRAFT_SF_DIR`` so the heavy tail can be
re-baselined at a larger scale factor (VERDICT r12 item 2), where a
full 278-query run would take hours.

Methodology is bench.py's own ``time_queries``: ``local[$SPARK_GRAFT_CPUS]``,
untimed all-table noop warm-up, fixed sorted execution order, min-of-N
reps (default 2) of an end-to-end noop-sink materialization per query,
gc between queries; writes one JSON line + a detail file.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata_scaled/sf1 SPARK_GRAFT_CPUS=32 \
        python tools_scalebench.py --only q1,q2,... --out OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import bench_env, time_queries  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", required=True, help="comma-separated query names")
    ap.add_argument("--out", required=True, help="detail JSON path")
    args = ap.parse_args()
    names = [n for n in args.only.split(",") if n]
    sf_dir, cpus = bench_env()

    from kinesis_stream_spark.queries import all_queries
    from kinesis_stream_spark.session import get_spark

    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("kinesis-stream-spark-scalebench")
    timings, failures, reps = time_queries(
        spark, sf_dir, {n: registry[n] for n in names}
    )

    detail = {
        "metric": "scaling_subset_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "n_failures": len(failures),
        "reps": reps,
        "exec_order": "sorted(name)",
        "warmup": "all-table noop scan, untimed",
    }
    if failures:
        detail["failures"] = failures
    with open(args.out, "w") as fh:
        json.dump(detail, fh, indent=2, sort_keys=True)
    print(json.dumps({k: detail[k] for k in ("value", "cpus", "sf_dir", "n_queries", "n_failures")}))


if __name__ == "__main__":
    main()
