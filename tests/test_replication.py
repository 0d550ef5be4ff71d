"""Incremental replication over the change data feed (plans/replication.py).

The invariant under test is the operational one: after every sync the
replica's live state digest equals the source's at the synced version —
across bootstrap, updates, deletes, schema evolution, replays, crashes
between syncs, differing bucket layouts, and chained replicas.
"""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import LakeTable
from kafka_connect_plugins_spark.plans.replication import (
    changes_to_merge_source,
    ensure_replica,
    replicate,
    replication_stream_id,
)


def _mk_source(spark, root, n=300):
    t = LakeTable.create(spark, str(root), key_columns=["repo", "path"], num_buckets=8)
    src = spark.range(n).select(
        F.concat(F.lit("repo-"), (F.col("id") % 10).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
        F.col("id").alias("_lsn"),
        F.lit(False).alias("_tombstone"),
        F.concat(F.lit("v0-"), F.col("id").cast("string")).alias("content"),
    )
    t.merge(src, epoch_id=0)
    return t


@pytest.fixture()
def source(spark, tmp_path):
    return _mk_source(spark, tmp_path / "src")


def test_bootstrap_sync_matches_digest(spark, tmp_path, source):
    replica = ensure_replica(spark, source, str(tmp_path / "rep"))
    out = replicate(source, replica, verify=True)
    assert out["from_version"] == 0 and out["to_version"] >= 1
    assert not out["skipped"] and out["rows_applied"] == 300
    assert out["verified"]
    assert replica.read().count() == 300


def test_incremental_sync_ships_only_the_delta(spark, tmp_path, source):
    replica = ensure_replica(spark, source, str(tmp_path / "rep"))
    replicate(source, replica)
    v1 = source.manifest()["version"]
    # second era: 5 updates + 3 deletes (tombstones) + 2 inserts
    delta = spark.createDataFrame(
        [("repo-1", "f1.py", 1000, False, "patched"),
         ("repo-2", "f2.py", 1001, False, "patched"),
         ("repo-3", "f3.py", 1002, False, "patched"),
         ("repo-4", "f4.py", 1003, False, "patched"),
         ("repo-5", "f5.py", 1004, False, "patched"),
         ("repo-6", "f6.py", 1005, True, None),
         ("repo-7", "f7.py", 1006, True, None),
         ("repo-8", "f8.py", 1007, True, None),
         ("repo-9", "new-a.py", 1008, False, "fresh"),
         ("repo-0", "new-b.py", 1009, False, "fresh")],
        "repo string, path string, _lsn long, _tombstone boolean, content string",
    )
    source.merge(delta, epoch_id=1)
    out = replicate(source, replica, verify=True)
    assert out["from_version"] == v1
    assert out["verified"]
    # only the changed keys moved, not the table
    assert out["rows_applied"] == 10
    assert replica.read().count() == 300 - 3 + 2
    assert replica.read().filter(F.col("path") == "f6.py").count() == 0
    assert (
        replica.read().filter(F.col("path") == "f1.py").first()["content"]
        == "patched"
    )


def test_sync_is_idempotent(spark, tmp_path, source):
    replica = ensure_replica(spark, source, str(tmp_path / "rep"))
    first = replicate(source, replica)
    again = replicate(source, replica)
    assert not first["skipped"] and again["skipped"]
    assert again["rows_applied"] == 0
    assert replica.manifest()["version"] == 1  # no empty commit

    # crash-after-commit replay: a new process re-running the same sync
    # finds the range already in the ledger (the ledger IS the commit)
    reloaded = LakeTable.load(spark, replica.root)
    assert replicate(source, reloaded)["skipped"]


def test_replica_layout_may_differ(spark, tmp_path, source):
    replica = ensure_replica(spark, source, str(tmp_path / "rep"), num_buckets=3)
    out = replicate(source, replica, verify=True)
    assert out["verified"]  # digest is layout-blind
    assert replica.manifest()["num_buckets"] == 3


def test_schema_evolution_flows_through(spark, tmp_path, source):
    replica = ensure_replica(spark, source, str(tmp_path / "rep"))
    replicate(source, replica)
    evolved = spark.createDataFrame(
        [("repo-1", "f1.py", 2000, False, "typed", "python")],
        "repo string, path string, _lsn long, _tombstone boolean, "
        "content string, lang string",
    )
    source.merge(evolved, epoch_id=1)
    out = replicate(source, replica, verify=True)
    assert out["verified"]
    row = replica.read().filter(F.col("path") == "f1.py").first()
    assert row["lang"] == "python"
    # pre-evolution rows read as NULL lang on the replica too
    assert replica.read().filter(F.col("lang").isNull()).count() == 299


def test_chained_replication(spark, tmp_path, source):
    b = ensure_replica(spark, source, str(tmp_path / "b"))
    replicate(source, b)
    c = ensure_replica(spark, b, str(tmp_path / "c"))
    out = replicate(b, c, verify=True)
    assert out["verified"]
    assert c.state_digest() == source.state_digest()


def test_two_sources_need_distinct_stream_ids(spark, tmp_path):
    a = _mk_source(spark, tmp_path / "a", n=50)
    b = _mk_source(spark, tmp_path / "b", n=50)
    assert replication_stream_id(a) != replication_stream_id(b)


def test_key_mismatch_rejected(spark, tmp_path, source):
    other = LakeTable.create(
        spark, str(tmp_path / "other"), key_columns=["repo"], num_buckets=4
    )
    with pytest.raises(ValueError, match="key columns"):
        ensure_replica(spark, source, other.root)


def test_changes_to_merge_source_shapes(spark, tmp_path, source):
    delta = spark.createDataFrame(
        [("repo-1", "f1.py", 1000, True, None)],
        "repo string, path string, _lsn long, _tombstone boolean, content string",
    )
    source.merge(delta, epoch_id=1)
    ch = changes_to_merge_source(source.read_changes(1, 2))
    rows = ch.collect()
    assert len(rows) == 1
    r = rows[0]
    # the delete ships as a tombstone at the DELETED row's LSN (source-wins
    # tiebreak removes the replica's equal-LSN live row)
    assert r["_tombstone"] is True and r["_lsn"] == 1
    assert "_change_type" not in ch.columns


def test_maintenance_only_commit_syncs_cleanly(spark, tmp_path, source):
    replica = ensure_replica(spark, source, str(tmp_path / "rep"))
    replicate(source, replica)
    # compact rewrites buckets without changing visible rows: the feed for
    # that range is empty, but the sync must still advance the ledger (or
    # stay a no-op) without erroring, and digests must keep matching
    source.compact(sort_by=["_lsn"])
    out = replicate(source, replica, verify=True)
    assert out["verified"]
    assert replicate(source, replica)["rows_applied"] == 0


def test_streaming_ingest_with_follower_replica(spark, tmp_path):
    """StreamingIngest(replicas=[...]): the replica follows every committed
    epoch; after the drain its digest equals the source's, and a second
    drain (nothing new) leaves it untouched."""
    from kafka_connect_plugins_spark.engine import create_repo_table
    from kafka_connect_plugins_spark.sources.changelog import changelog
    from kafka_connect_plugins_spark.streaming import StreamingIngest

    events = changelog(spark, 4000, num_repos=8, paths_per_repo=30)
    log_dir = str(tmp_path / "log")
    events.repartitionByRange(4, "offset").write.parquet(log_dir)
    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=8)
    replica = ensure_replica(spark, table, str(tmp_path / "rep"))
    ingest = StreamingIngest(table, stream_id="s1", replicas=[replica])
    stats = ingest.run_available(
        spark, log_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, timeout_sec=180,
    )
    assert len(stats) >= 2  # replica followed multiple epochs, not one bulk
    assert replica.state_digest() == table.state_digest()
    v = replica.manifest()["version"]
    assert replicate(table, replica)["skipped"]  # fully caught up
    assert replica.manifest()["version"] == v
