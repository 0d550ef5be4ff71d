"""Round-5 hardening: pipelined-replay failure cleanup."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.engine import (
    create_repo_table,
    replay_pipelined,
)
from kafka_connect_plugins_spark.sources.changelog import changelog


def test_pipelined_replay_failure_resets_pool_and_caches(spark, tmp_path):
    events = changelog(spark, 3000, num_repos=10, paths_per_repo=40)
    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=16)
    batches = [
        events.filter((F.col("offset") >= i * 1000) & (F.col("offset") < (i + 1) * 1000))
        for i in range(3)
    ]
    sc = spark.sparkContext

    def cached_ids():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    # set-difference, not a count: the async ContextCleaner may drop OTHER
    # tests' stale caches between the two snapshots
    ids_before = cached_ids()

    real_merge = table.merge
    calls = {"n": 0}

    def flaky_merge(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:  # epoch 1's apply: fail AFTER epoch 2's prepare
            raise RuntimeError("injected write failure")
        return real_merge(*args, **kwargs)

    table.merge = flaky_merge
    try:
        with pytest.raises(RuntimeError, match="injected write failure"):
            replay_pipelined(table, batches)
    finally:
        table.merge = real_merge

    # the scheduler pool must not leak to the caller's later jobs...
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    # ...and the orphaned epoch-2 prepare's persisted frames must be freed
    assert cached_ids() - ids_before == set()
    # the guard still resumes exactly-once after the failure
    stats = replay_pipelined(table, batches)
    assert [s.skipped for s in stats] == [True, False, False]

