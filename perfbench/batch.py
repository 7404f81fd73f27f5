"""The batch workload: loop-heavy tail queries from
``queries.all_queries()``, each run as ``fn(spark, sf_dir)`` (the build,
which includes the eager materialisations these queries make) followed by
a noop-sink write (the execute).

The tables are a copy of the seed-42 sf0.01 fixture (``data/sf0.01``), so
the batch inputs do not depend on ``--seed``.  The untimed warm-up pass is
also the output check: every query is compared with its DuckDB oracle
result, recorded once in ``oracle/`` by ``record_oracle.py``.
"""

from __future__ import annotations

import time
from pathlib import Path

import pandas as pd

import sparkstats
from harness import CPUS, Result, p50, pct, spark_session, workdir
from trace import Tracer

SF_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
ORACLE_DIR = Path(__file__).resolve().parent / "oracle"

#: loop-heavy tail queries: many Spark jobs per query, mostly eager
#: materialisations inside the build call
ITERATIVE = ("graph_label_propagation", "events_bootstrap_ci")
#: the tables those queries read
TABLES = ("lineitem", "orders", "events")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def batch_iterative(seed: int, seconds: float, tracer: Tracer) -> Result:
    """``seed`` is unused: the tables are the fixed fixture."""
    res = Result()
    sf = str(SF_DIR)
    with workdir("batch_iterative") as work:
        t0 = time.perf_counter()
        with spark_session(work) as (spark, start_s):
            from kinesis_stream_spark.queries import all_queries
            from kinesis_stream_spark.sources.batch import load_table
            from kinesis_stream_spark.testing import compare

            fns = all_queries()
            ts = time.perf_counter()
            with tracer.span("sources.batch.warm_scan"):
                for table in TABLES:
                    _noop(load_table(spark, sf, table))
            scan_s = time.perf_counter() - ts
            for name in ITERATIVE:
                oracle = pd.read_parquet(ORACLE_DIR / f"{name}.parquet")
                res.attempted += 1
                try:
                    problems = compare(fns[name](spark, sf), oracle)
                except Exception as exc:  # a query that raises is a failed operation
                    problems = [repr(exc)]
                res.fail(int(bool(problems)), f"{name} differs from its oracle: {problems[:1]}")
            res.e2e["setup_s"] = time.perf_counter() - t0

            sc = spark.sparkContext
            samples: list[dict] = []
            passes: list[float] = []
            measured = 0.0
            top = tracer.begin("batch_iterative.measure")
            # whole passes, so every run times the same mix; a next pass runs
            # if the measured time then ends within half a pass of ``seconds``
            while not passes or measured + measured / len(passes) / 2 < seconds:
                pass_wall = 0.0
                for name in ITERATIVE:
                    group = f"perfbench-{name}-{len(samples)}"
                    sc.setJobGroup(group, name)
                    before = sparkstats.persisted_rdds(spark)
                    qspan = tracer.begin("queries.query", parent=top, item=name)
                    started = time.time()
                    t = time.perf_counter()
                    res.attempted += 1
                    try:
                        with tracer.span("queries.build", parent=qspan, item=name):
                            df = fns[name](spark, sf)
                        tb = time.perf_counter()
                        with tracer.span("queries.execute", parent=qspan, item=name):
                            _noop(df)
                    except Exception as exc:
                        res.fail(1, f"{name} raised {exc!r}")
                        tb = time.perf_counter()
                    te = time.perf_counter()
                    ended = time.time()
                    tracer.end(qspan)
                    sc.setJobGroup("perfbench-idle", "")
                    sample = {
                        "name": name,
                        "wall": te - t,
                        "build": tb - t,
                        "execute": te - tb,
                        "residue": sparkstats.persisted_rdds(spark) - before,
                    }
                    if tracer.enabled:
                        st = sparkstats.group_stats(spark, group)
                        busy = sparkstats.busy_seconds(st.pop("job_intervals"), started, ended)
                        st["driver_idle_s"] = (ended - started) - busy
                        sample.update(st)
                    samples.append(sample)
                    pass_wall += sample["wall"]
                passes.append(pass_wall)
                measured += pass_wall
            tracer.end(top)

            # throughput from each query's best pass (min-of-N): on a shared
            # host noise only adds time; latency from the spread of whole passes
            best = {n: min(s["wall"] for s in samples if s["name"] == n) for n in ITERATIVE}
            res.e2e["throughput_per_s"] = len(ITERATIVE) / sum(best.values())
            res.e2e["latency_p50_ms"] = pct([w * 1e3 for w in passes], 50)
            res.e2e["latency_p90_ms"] = pct([w * 1e3 for w in passes], 90)
            res.extra["batch.wall_s"] = (sum(best.values()), "s")
            res.extra["batch.passes"] = (len(passes), "count")
            for name, wall in best.items():
                res.extra[f"batch.query.{name}_s"] = (wall, "s")

            if tracer.enabled:
                lay = res.layer
                lay["session.get_spark_s"] = start_s
                lay["sources.batch.warm_scan_s"] = scan_s

                def per_pass(key: str) -> float:
                    # sum over the query set of each query's median
                    return sum(
                        p50([s[key] for s in samples if s["name"] == n]) for n in ITERATIVE
                    )

                lay["queries.build_s"] = per_pass("build")
                lay["queries.execute_s"] = per_pass("execute")
                lay["queries.persisted_rdd_residue"] = per_pass("residue")
                for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                            "shuffle_read_bytes", "shuffle_write_bytes", "driver_idle_s"):
                    lay[f"spark.{key}"] = per_pass(key)
                lay["spark.executor_busy_frac"] = lay["spark.executor_run_s"] / (
                    per_pass("wall") * CPUS
                )
                for name in ITERATIVE:
                    own = [s for s in samples if s["name"] == name]
                    res.extra[f"spark.jobs.{name}"] = (p50([s["jobs"] for s in own]), "count")
                    res.extra[f"queries.build_s.{name}"] = (p50([s["build"] for s in own]), "s")
            res.e2e["peak_rss_mb"] = sparkstats.peak_rss_mb(spark)
    return res
