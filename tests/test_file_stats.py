"""Manifest file-level column stats and data-skipping reads.

The Iceberg scan-planning pattern (public Iceberg spec: per-data-file
lower/upper column bounds in the manifest, used to skip files before the
scan lists them) re-expressed over the LakeTable manifest: every commit
records per-bucket min/max bounds read from parquet FOOTERS only, and
``read(prune={col: (lo, hi)})`` skips buckets provably disjoint from the
bounds, then applies the exact filter to the survivors.
"""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import LakeTable


def _table(spark, tmp_path, name="t", buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), key_columns=["repo", "path"],
        num_buckets=buckets,
    )


def _src(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, _lsn long, _tombstone boolean",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stats_recorded_per_live_file(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [("r", f"p{i}", "c", "py", f"v{i}", i, False)
                         for i in range(1, 41)]), epoch_id=0)
    stats = t.file_stats()
    manifest = t.manifest()
    live = {f"v{v}/{b}" for b, v in manifest["buckets"].items()}
    assert set(stats) == live
    # bounds cover the data, row counts sum to the table
    lsn_lo = min(s["_lsn"][0] for s in stats.values())
    lsn_hi = max(s["_lsn"][1] for s in stats.values())
    assert lsn_lo == 1 and lsn_hi == 40
    assert sum(s["__rows"] for s in stats.values()) == 40


def test_stats_stay_bounded_to_live_files(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=4)
    for e in range(5):
        t.merge(_src(spark, [("r", f"p{i}", "c", "py", f"v{e}", e * 100 + i,
                              False) for i in range(20)]), epoch_id=e)
    manifest = t.manifest()
    live = {f"v{v}/{b}" for b, v in manifest["buckets"].items()}
    # O(live files), never O(history): superseded versions carry no entries
    assert set(t.file_stats()) == live


def test_pruned_read_equals_filtered_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [(f"r{i % 5}", f"p{i}", "c", "py", f"v{i}", i, False)
                         for i in range(1, 101)]), epoch_id=0)
    t.merge(_src(spark, [(f"r{i % 5}", f"p{i}", "c", "py", f"x{i}",
                          1000 + i, False) for i in range(20)]), epoch_id=1)
    pruned = t.read(prune={"_lsn": (1000, None)})
    assert _rows(pruned) == _rows(t.read().filter(F.col("_lsn") >= 1000))
    # string bounds prune too
    pr = t.read(prune={"repo": ("r4", "r4")})
    assert _rows(pr) == _rows(t.read().filter(F.col("repo") == "r4"))
    # conjunction of bounds
    both = t.read(prune={"_lsn": (1000, None), "repo": ("r0", "r1")})
    assert _rows(both) == _rows(
        t.read().filter((F.col("_lsn") >= 1000) & F.col("repo").isin("r0", "r1"))
    )


def test_pruning_skips_files(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=16)
    # two disjoint LSN eras touching DIFFERENT key ranges, so the second
    # merge leaves the first era's buckets untouched (low max-_lsn stats)
    t.merge(_src(spark, [("era1", f"a{i}", "c", "py", "old", i, False)
                         for i in range(1, 200)]), epoch_id=0)
    t.merge(_src(spark, [("era2", f"b{i}", "c", "py", "new", 10_000 + i,
                          False) for i in range(20)]), epoch_id=1)
    tail = t.read(prune={"_lsn": (10_000, None)})
    assert len(tail.inputFiles()) < len(t.read().inputFiles())
    assert tail.count() == 20
    # a fully disjoint range scans nothing at all
    nothing = t.read(prune={"_lsn": (10 ** 9, None)})
    assert nothing.count() == 0 and len(nothing.inputFiles()) == 0


def test_prune_after_merge_keeps_lww_winner(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=4)
    t.merge(_src(spark, [("a", "p1", "c", "py", "v1", 1, False)]), epoch_id=0)
    # the second merge supersedes p1 and adds q; a pruned read must see the
    # winners only, never the superseded row
    t.merge(_src(spark, [("a", "p1", "c", "py", "v2", 50, False),
                         ("b", "q", "c", "py", "w", 60, False)]),
            epoch_id=1)
    got = t.read(prune={"_lsn": (50, 60)})
    want = t.read().filter((F.col("_lsn") >= 50) & (F.col("_lsn") <= 60))
    assert _rows(got) == _rows(want)
    assert got.count() == 2  # v2 winner + w, never the superseded v1


def test_old_manifests_without_stats_never_prune(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=4)
    t.merge(_src(spark, [("r", f"p{i}", "c", "py", "v", i, False)
                         for i in range(1, 11)]), epoch_id=0)
    # simulate a pre-stats snapshot: strip the stats map from the manifest
    m = t.manifest()
    import json, os
    path = os.path.join(t.root, "manifests", f"v{m['version']}.json")
    m.pop("file_stats", None)
    with open(path, "w") as f:
        json.dump(m, f)
    got = t.read(prune={"_lsn": (5, None)})
    assert got.count() == 6  # absent stats = may match: correct, unpruned


def test_maintenance_rewrites_refresh_stats(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=4)
    t.merge(_src(spark, [("r", f"p{i}", "c", "py", "v", i, False)
                         for i in range(1, 21)]), epoch_id=0)
    t.merge(_src(spark, [("r", "p1", "c", "py", None, 100, True)]),
            epoch_id=1)
    t.compact(sort_by=["_lsn"])
    stats = t.file_stats()
    assert stats and all(k.startswith("v") for k in stats)
    assert _rows(t.read(prune={"_lsn": (2, 20)})) == _rows(
        t.read().filter(F.col("_lsn").between(2, 20))
    )
    t.rebucket(8)
    stats = t.file_stats()
    assert sum(s["__rows"] for s in stats.values()) == t.read_internal().count()
    assert _rows(t.read(prune={"_lsn": (2, 20)})) == _rows(
        t.read().filter(F.col("_lsn").between(2, 20))
    )


def test_prune_validates_against_nulls_in_bounds_column(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=2)
    t.merge(_src(spark, [("r", "p1", "c", None, "v", 1, False),
                         ("r", "p2", "c", "py", "w", 2, False)]), epoch_id=0)
    # range predicates exclude NULLs — standard SQL semantics
    got = t.read(prune={"lang": ("a", "z")})
    assert [r["path"] for r in got.collect()] == ["p2"]
