"""LakeTable MERGE semantics: LWW, deletes, epochs, evolution, bucket pruning."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import (
    LakeTable,
    SchemaEvolutionError,
)
from tests.helpers import spark_jobs


def _table(spark, tmp_path, buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), key_columns=["repo", "path"], num_buckets=buckets
    )


def _src(spark, rows):
    cols = ["repo", "path", "commit", "lang", "content", "_lsn", "_tombstone"]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows],
        "repo string, path string, commit string, lang string, content string, "
        "_lsn long, _tombstone boolean",
    )


def _state(table):
    return {
        (r["repo"], r["path"]): (r["content"], r["_lsn"])
        for r in table.read().collect()
    }


def test_insert_then_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    stats = t.merge(_src(spark, [
        {"repo": "r1", "path": "a", "commit": "c1", "lang": "py", "content": "A", "_lsn": 1, "_tombstone": False},
        {"repo": "r1", "path": "b", "commit": "c2", "lang": "py", "content": "B", "_lsn": 2, "_tombstone": False},
    ]))
    assert stats.source_rows == 2 and not stats.skipped
    assert _state(t) == {("r1", "a"): ("A", 1), ("r1", "b"): ("B", 2)}


def test_lww_within_batch_and_across_merges(spark, tmp_path):
    t = _table(spark, tmp_path)
    # out-of-order within one batch: LWW picks lsn 9
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "old", "_lsn": 9, "_tombstone": False},
        {"repo": "r", "path": "p", "content": "mid", "_lsn": 5, "_tombstone": False},
    ]))
    assert _state(t)[("r", "p")] == ("old", 9)
    # a later merge carrying only STALE lsn must not regress the row
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "stale", "_lsn": 3, "_tombstone": False},
    ]))
    assert _state(t)[("r", "p")] == ("old", 9)
    # and a fresher one wins
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "new", "_lsn": 12, "_tombstone": False},
    ]))
    assert _state(t)[("r", "p")] == ("new", 12)


def test_tombstone_deletes_and_never_inserted_key(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "X", "_lsn": 1, "_tombstone": False},
    ]))
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "_lsn": 2, "_tombstone": True},  # delete existing
        {"repo": "r", "path": "ghost", "_lsn": 3, "_tombstone": True},  # never inserted
    ]))
    assert _state(t) == {}
    # stale tombstone must NOT delete a fresher row
    t.merge(_src(spark, [
        {"repo": "r", "path": "q", "content": "Y", "_lsn": 10, "_tombstone": False},
    ]))
    t.merge(_src(spark, [
        {"repo": "r", "path": "q", "_lsn": 4, "_tombstone": True},
    ]))
    assert _state(t) == {("r", "q"): ("Y", 10)}


def test_epoch_idempotence(spark, tmp_path):
    t = _table(spark, tmp_path)
    batch = [{"repo": "r", "path": "p", "content": "A", "_lsn": 1, "_tombstone": False}]
    s1 = t.merge(_src(spark, batch), epoch_id=0, stream_id="s")
    v_after = t.manifest()["version"]
    s2 = t.merge(_src(spark, batch), epoch_id=0, stream_id="s")  # replayed epoch
    assert not s1.skipped and s2.skipped
    assert t.manifest()["version"] == v_after  # no new snapshot
    assert t.last_epoch("s") == 0
    s3 = t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "B", "_lsn": 2, "_tombstone": False},
    ]), epoch_id=1, stream_id="s")
    assert not s3.skipped and _state(t)[("r", "p")] == ("B", 2)


def test_dirty_bucket_pruning(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=16)
    rows = [
        {"repo": f"r{i}", "path": "p", "content": f"c{i}", "_lsn": i, "_tombstone": False}
        for i in range(64)
    ]
    t.merge(_src(spark, rows))
    m1 = t.manifest()
    touched_before = dict(m1["buckets"])
    # single-key update must rewrite only that key's bucket
    stats = t.merge(_src(spark, [
        {"repo": "r0", "path": "p", "content": "c0-v2", "_lsn": 100, "_tombstone": False},
    ]))
    assert stats.dirty_buckets == 1
    m2 = t.manifest()
    changed = [b for b in m2["buckets"] if m2["buckets"][b] != touched_before.get(b)]
    assert len(changed) == 1  # exactly one bucket advanced to the new version
    assert _state(t)[("r0", "p")] == ("c0-v2", 100)
    assert _state(t)[("r63", "p")] == ("c63", 63)


def test_schema_evolution_add_column(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "A", "_lsn": 1, "_tombstone": False},
    ]))
    widened = spark.createDataFrame(
        [("r", "q", "c", "py", "B", "MIT", 2, False)],
        "repo string, path string, commit string, lang string, content string, "
        "license string, _lsn long, _tombstone boolean",
    )
    stats = t.merge(widened)
    assert stats.schema_added_columns == ["license"]
    rows = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert rows[("r", "q")]["license"] == "MIT"
    assert rows[("r", "p")]["license"] is None  # old rows back-filled with null


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "A", "_lsn": 1, "_tombstone": False},
    ]))
    bad = spark.createDataFrame(
        [("r", "p", 123, 2, False)],
        "repo string, path string, content long, _lsn long, _tombstone boolean",
    )
    with pytest.raises(SchemaEvolutionError, match="content"):
        t.merge(bad)


def test_snapshot_time_travel(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "v1", "_lsn": 1, "_tombstone": False},
    ]))
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "v2", "_lsn": 2, "_tombstone": False},
    ]))
    assert t.manifest(1)["version"] == 1  # old snapshot still readable
    assert _state(t)[("r", "p")] == ("v2", 2)


def test_load_missing_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, str(tmp_path / "nope"))


def test_delete_marker_blocks_late_lower_lsn_insert(spark, tmp_path):
    """Out-of-order ACROSS merges: a retained delete marker (lsn 100) must not
    let a late insert (lsn 50) resurrect the key — the failure mode of
    physical-DELETE merge sinks when microbatches are not LSN-ordered."""
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "_lsn": 100, "_tombstone": True},
    ]))
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "late", "_lsn": 50, "_tombstone": False},
    ]))
    assert _state(t) == {}
    # but a genuinely fresher insert re-creates it
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "new", "_lsn": 101, "_tombstone": False},
    ]))
    assert _state(t) == {("r", "p"): ("new", 101)}


def test_purge_tombstones_retention(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "live", "content": "X", "_lsn": 1, "_tombstone": False},
        {"repo": "r", "path": "dead1", "_lsn": 5, "_tombstone": True},
        {"repo": "r", "path": "dead2", "_lsn": 50, "_tombstone": True},
    ]))
    internal = t.read_internal()
    assert internal.count() == 3  # markers retained
    rewritten = t.purge_tombstones(below_lsn=10)  # dead1 ages out, dead2 kept
    assert rewritten >= 1
    kept = {
        (r["repo"], r["path"]) for r in t.read_internal().select("repo", "path").collect()
    }
    assert kept == {("r", "live"), ("r", "dead2")}
    assert _state(t) == {("r", "live"): ("X", 1)}
    assert t.purge_tombstones(below_lsn=10) == 0  # idempotent / no-op second pass
    # marker still shields until it is purged: late insert below 50 stays dead
    t.merge(_src(spark, [
        {"repo": "r", "path": "dead2", "content": "zombie", "_lsn": 20, "_tombstone": False},
    ]))
    assert ("r", "dead2") not in _state(t)


def test_lineage_probe(spark, tmp_path):
    t = _table(spark, tmp_path)
    src = _src(spark, [
        {"repo": "r", "path": "a", "content": "A", "_lsn": 1, "_tombstone": False},
        {"repo": "r", "path": "b", "content": "B", "_lsn": 7, "_tombstone": False},
        {"repo": "r", "path": "c", "content": "C", "_lsn": 4, "_tombstone": False},
    ]).withColumn("part", (F.col("_lsn") % 2).cast("int"))
    st = t.merge(src, lineage_col="part")
    assert st.lineage == {0: {"events": 1, "max_lsn": 4}, 1: {"events": 2, "max_lsn": 7}}
    # lineage column is bookkeeping only — it must not land in the table schema
    assert "part" not in [f.name for f in t.read().schema.fields]


def test_plan_b_unionagg_matches_plan_a(spark, tmp_path):
    """Two batches through the one LWW merge plan: an update wins, a stale
    late arrival loses to the stored LSN and a delete hides its key."""
    rows1 = [
        {"repo": "r", "path": f"p{i}", "commit": "c", "lang": "py",
         "content": f"v{i}", "_lsn": i, "_tombstone": False}
        for i in range(10)
    ]
    rows2 = (
        [{"repo": "r", "path": "p3", "commit": "c", "lang": "py",
          "content": "updated", "_lsn": 100, "_tombstone": False},
         {"repo": "r", "path": "p4", "commit": "c", "lang": "py",
          "content": "stale", "_lsn": 1, "_tombstone": False},   # loses to lsn 4
         {"repo": "r", "path": "p5", "commit": None, "lang": None,
          "content": None, "_lsn": 101, "_tombstone": True}]     # delete
    )
    t = _table(spark, tmp_path, buckets=4)
    t.merge(_src(spark, rows1))
    t.merge(_src(spark, rows2))
    state = _state(t)
    assert state[("r", "p3")] == ("updated", 100)
    assert state[("r", "p4")] == ("v4", 4)
    assert ("r", "p5") not in state


def _parquet_files_per_bucket(t):
    m = t.manifest()
    counts = {}
    for b, v in m["buckets"].items():
        bdir = os.path.join(t.root, "data", f"v{v}", f"_bucket={b}")
        counts[int(b)] = sum(1 for f_ in os.listdir(bdir) if f_.endswith(".parquet"))
    return counts


def test_map_only_path_file_growth_is_compacted(spark, tmp_path):
    """Every rewrite writes each dirty bucket as exactly one file, so the
    per-bucket file count never grows across epochs."""
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), key_columns=["repo", "path"], num_buckets=1
    )
    for epoch in range(10):
        t.merge(
            _src(spark, [
                {"repo": "r", "path": f"p{epoch}", "commit": "c", "lang": "py",
                 "content": f"v{epoch}", "_lsn": epoch, "_tombstone": False},
            ]),
        )
    assert _parquet_files_per_bucket(t) == {0: 1}
    # and the data is intact after all that rewriting
    assert len(_state(t)) == 10
    assert _state(t)[("r", "p7")] == ("v7", 7)

    # multi-partition sources over several buckets, each epoch updating half
    # of the previous epoch's keys and carrying the rest: still one file each
    w = LakeTable.create(
        spark, str(tmp_path / "wide"), key_columns=["repo", "path"], num_buckets=4
    )
    for epoch in range(4):
        w.merge(spark.range(epoch * 150, epoch * 150 + 300, numPartitions=8).select(
            F.lit("r").alias("repo"),
            F.col("id").cast("string").alias("path"),
            F.lit("py").alias("lang"),
            F.lit(f"e{epoch}").alias("content"),
            (F.lit(epoch * 1000) + F.col("id")).alias("_lsn"),
            F.lit(False).alias("_tombstone"),
        ))
    assert _parquet_files_per_bucket(w) == {b: 1 for b in range(4)}
    assert w.read().count() == 750


def test_warm_rewrite_epoch_job_count(spark, tmp_path):
    """A warm rewrite epoch that updates some keys and carries the rest runs
    the stats collect and ONE exchange write: no broadcast builds, no
    separate compaction pass."""
    from kafka_connect_plugins_spark.engine import apply_batch, create_repo_table
    from kafka_connect_plugins_spark.sources.changelog import changelog

    events = changelog(spark, 6000, num_repos=20, paths_per_repo=200)
    t = create_repo_table(spark, str(tmp_path / "tbl"), num_buckets=4)

    def epoch(i):
        batch = events.filter(
            (F.col("offset") >= i * 2000) & (F.col("offset") < (i + 1) * 2000)
        )
        return apply_batch(t, batch, epoch_id=i)

    epoch(0)
    epoch(1)  # warm
    assert spark_jobs(spark, lambda: epoch(2)) <= 8


def test_equal_lsn_replay_dupes_collapse_in_plan_a(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "commit": "c", "lang": "py",
         "content": "X", "_lsn": 7, "_tombstone": False},
        {"repo": "r", "path": "p", "commit": "c", "lang": "py",
         "content": "X", "_lsn": 7, "_tombstone": False},  # exact replay dup
    ]))
    rows = t.read().filter("repo = 'r' AND path = 'p'").collect()
    assert len(rows) == 1 and rows[0]["content"] == "X"
