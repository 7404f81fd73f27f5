"""Record the DuckDB oracle result of every benchmarked batch query.

The oracles of the loop-heavy queries are slow (minutes), so the batch
workloads compare against these recorded results instead of running the
oracle on every run.  Re-run after changing ``data/`` or a query's oracle
SQL:

    python3 perfbench/record_oracle.py
"""

from __future__ import annotations

import sys
import time

from batch import ITERATIVE, ORACLE_DIR, SF_DIR
from harness import engine_on_path


def main() -> int:
    engine_on_path()
    from kinesis_stream_spark.queries import all_oracle_sql
    from kinesis_stream_spark.testing import run_oracle

    sql = all_oracle_sql()
    ORACLE_DIR.mkdir(exist_ok=True)
    for name in ITERATIVE:
        t = time.perf_counter()
        run_oracle(sql[name], str(SF_DIR)).to_parquet(ORACLE_DIR / f"{name}.parquet", index=False)
        print(f"{name}: {time.perf_counter() - t:.1f}s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
