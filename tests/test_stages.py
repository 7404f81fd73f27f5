"""Checkpoint lifetime (operators/stages.py): every iterative operator
leaves exactly the checkpoint its result reads, also when it raises, and
a failed release is counted, never raised."""

from __future__ import annotations

import pytest

from kinesis_stream_spark.operators import graph, stages
from kinesis_stream_spark.operators.components import connected_components_bigstar
from kinesis_stream_spark.operators.dedup import connected_components

_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (10, 11)]


def _edges(spark):
    return spark.createDataFrame(
        [(a, b, a + b) for a, b in _EDGES], "src long, dst long, w long"
    )


def _pairs(spark):
    return spark.createDataFrame(_EDGES, "id_a long, id_b long")


def _seeds(spark):
    return spark.createDataFrame([(1,), (10,)], "node long")


OPERATORS = {
    "pagerank": lambda s: graph.pagerank(_edges(s)),
    "kcore": lambda s: graph.kcore(_edges(s), k=2, rounds=2),
    "label_propagation": lambda s: graph.label_propagation(_edges(s), rounds=2),
    "bfs_hops": lambda s: graph.bfs_hops(_edges(s), _seeds(s), rounds=3),
    "personalized_pagerank": lambda s: graph.personalized_pagerank(
        _edges(s), _seeds(s)
    ),
    "cheapest_path": lambda s: graph.cheapest_path(_edges(s), _seeds(s), rounds=3),
    "hits_scores": lambda s: graph.hits_scores(_edges(s)),
    "connected_components_bigstar": lambda s: connected_components_bigstar(
        _pairs(s)
    ),
    "dedup_connected_components": lambda s: connected_components(_pairs(s)),
}


def _persisted(spark) -> set[int]:
    # id sets, not counts: the ContextCleaner reaps earlier tests' RDDs
    # asynchronously, so a count delta can go negative
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_only_its_result(spark, name):
    before = _persisted(spark)
    out = OPERATORS[name](spark)
    out.write.format("noop").mode("overwrite").save()
    new = _persisted(spark) - before
    # the returned frame's own checkpoint, nothing else
    assert len(new) == 1, new
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in new:
        rdds.get(rdd_id).unpersist(False)


def test_operator_that_raises_leaves_nothing(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 13)], "id_a long, id_b long"
    )
    before = _persisted(spark)
    with pytest.raises(ValueError, match="no fixpoint"):
        connected_components_bigstar(chain, max_rounds=1)
    assert not _persisted(spark) - before


def test_release_counts_failures_not_plain_plans(spark, monkeypatch, caplog):
    # a plan with no LogicalRDD holds no checkpoint: a no-op, not a failure;
    # a release that raises is counted and logged once, never raised
    from types import SimpleNamespace

    monkeypatch.setattr(stages, "release_failures", 0)
    stages.release_checkpoint(spark.range(3))
    assert stages.release_failures == 0

    def broken_plan():
        raise RuntimeError("py4j went away")

    broken = SimpleNamespace(_jdf=SimpleNamespace(queryExecution=broken_plan))
    with caplog.at_level("WARNING", logger=stages.__name__):
        stages.release_checkpoint(broken)
        stages.release_checkpoint(broken)
    assert stages.release_failures == 2
    warnings = [r for r in caplog.records if r.name == stages.__name__]
    assert len(warnings) == 1

    # the count is exact when many threads fail at once
    import sys
    import threading

    monkeypatch.setattr(stages, "release_failures", 0)
    n_threads, n_calls = 16, 200

    def fail_many():
        for _ in range(n_calls):
            stages.release_checkpoint(broken)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fail_many) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert stages.release_failures == n_threads * n_calls
