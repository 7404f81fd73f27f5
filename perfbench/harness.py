"""Shared plumbing of the benchmark: paths, the Spark session, results."""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

#: root of the checkout the benchmark runs in (holds ``kinesis_stream_spark``)
ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
OUT_ROOT = ROOT / ".perfbench_out"
#: fixed so that runs on hosts with different core counts stay comparable
CPUS = 4
DRIVER_MEM = "1g"


def engine_on_path() -> None:
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


@contextmanager
def workdir(workload: str):
    """A scratch directory inside the checkout, removed at the end."""
    path = WORK_ROOT / f"{workload}-{os.getpid()}"
    (path / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(path / "tmp")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass


@contextmanager
def spark_session(work: Path):
    """Start the engine's session through ``session.get_spark``; yield
    ``(spark, seconds_to_start)``; stop it and wait for its JVM to exit."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    engine_on_path()
    from kinesis_stream_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    started = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        yield spark, started
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits on EOF of its stdin
            proc.stdin.close()
            proc.wait(timeout=60)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q)) if len(values) else 0.0


def p50(values) -> float:
    return pct(values, 50)


@dataclass
class Result:
    """What one workload run measured.

    ``e2e`` and ``layer`` map metric names to values in the units declared
    in ``BENCHMARK.json``; ``extra`` maps further names to ``(value, unit)``
    pairs that are printed but not part of the result line."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    def fail(self, count: int, what: str) -> None:
        if count:
            self.failed += count
            self.problems.append(f"{count} x {what}")
