"""Key-pruned point lookup (bucket-partition pruning, round 5).

The scale claim is structural: a lookup must list/scan ONLY the buckets its
keys hash to. `DataFrame.inputFiles()` exposes exactly which files the plan
reads, so the pruning is asserted on the physical scan, not inferred.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import LakeTable


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "lake")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(spark, root, key_columns=["repo", "path"], num_buckets=16)
    src = spark.range(400).select(
        F.concat(F.lit("repo-"), (F.col("id") % 20).cast("string")).alias("repo"),
        F.concat(F.lit("f"), (F.col("id") % 40).cast("string"), F.lit(".py")).alias("path"),
        F.col("id").alias("_lsn"),
        (F.col("id") % 7 == 0).alias("_tombstone"),
        F.concat(F.lit("content-"), F.col("id").cast("string")).alias("content"),
    )
    t.merge(src, epoch_id=0)
    return t


class TestLookup:
    def test_matches_full_read_filter(self, spark, table):
        full = table.read()
        probe = full.orderBy("repo", "path").first()
        got = table.lookup({"repo": probe["repo"], "path": probe["path"]}).collect()
        assert len(got) == 1
        assert got[0]["content"] == probe["content"]

    def test_deleted_key_absent(self, spark, table):
        # ids where id%7==0 wrote a tombstone as the LAST writer for that
        # (repo, path) only if no later id hit the same key; find one via read()
        internal = table.read_internal()
        dead = (
            internal.filter(F.col("_tombstone"))
            .select("repo", "path")
            .first()
        )
        assert dead is not None
        assert table.lookup({"repo": dead["repo"], "path": dead["path"]}).count() == 0

    def test_scan_is_bucket_pruned(self, spark, table):
        probe = table.read().first()
        df = table.lookup({"repo": probe["repo"], "path": probe["path"]})
        touched = df.inputFiles()
        all_files = table.read().inputFiles()
        assert len(touched) < len(all_files)
        # every touched file lives in ONE bucket directory
        bdirs = {p.split("_bucket=")[1].split("/")[0] for p in touched}
        assert len(bdirs) == 1

    def test_multi_key_lookup(self, spark, table):
        want = table.read().orderBy("repo", "path").limit(3).collect()
        got = table.lookup(
            [{"repo": r["repo"], "path": r["path"]} for r in want]
        ).collect()
        assert {(r["repo"], r["path"]) for r in got} == {
            (r["repo"], r["path"]) for r in want
        }

    def test_missing_key_column_raises(self, table):
        with pytest.raises(ValueError, match="missing columns"):
            table.lookup({"repo": "repo-1"})

    def test_absent_key_returns_empty(self, table):
        assert table.lookup({"repo": "no-such", "path": "nope"}).count() == 0

    def test_time_travel_lookup(self, spark, table):
        probe = table.read().filter(~F.col("repo").isNull()).first()
        v0 = table.manifest()["version"]
        upd = spark.createDataFrame(
            [(probe["repo"], probe["path"], 10_000, False, "NEW")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(upd, epoch_id=1)
        now = table.lookup({"repo": probe["repo"], "path": probe["path"]}).first()
        then = table.lookup(
            {"repo": probe["repo"], "path": probe["path"]}, version=v0
        ).first()
        assert now["content"] == "NEW"
        assert then["content"] == probe["content"]


class TestNullKeyLookup:
    """NULL key components are a legal key value (merge and merge_into match
    them null-safely), so a lookup must return exactly the NULL-keyed row."""

    @pytest.fixture()
    def null_table(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "nulls"), key_columns=["repo", "path"], num_buckets=4
        )
        t.merge(spark.createDataFrame(
            [
                ("r", None, "null-path", 1, False),
                ("r", "p", "keep", 2, False),
                ("s", "q", "other", 3, False),
                (None, None, "all-null", 4, False),
            ],
            "repo string, path string, content string, _lsn long, _tombstone boolean",
        ))
        return t

    def test_single_null_component(self, null_table):
        got = null_table.lookup({"repo": "r", "path": None}).collect()
        assert [(r["repo"], r["path"], r["content"]) for r in got] == [
            ("r", None, "null-path")
        ]

    def test_mixed_multi_key_with_null_component(self, null_table):
        got = null_table.lookup(
            [{"repo": "r", "path": None}, {"repo": "s", "path": "q"},
             {"repo": "absent", "path": None}]
        ).collect()
        assert sorted((r["repo"], r["path"], r["content"]) for r in got) == [
            ("r", None, "null-path"), ("s", "q", "other")
        ]
        # a NULL component never matches a non-NULL stored value
        assert "keep" not in {r["content"] for r in got}

    def test_all_null_key(self, null_table):
        got = null_table.lookup(
            [{"repo": None, "path": None}, {"repo": "r", "path": "p"}]
        ).collect()
        assert sorted(r["content"] for r in got) == ["all-null", "keep"]


class TestRebucket:
    def test_rebucket_preserves_content_and_prunes_with_new_count(self, spark, table):
        before = {(r["repo"], r["path"], r["content"]) for r in table.read().collect()}
        written = table.rebucket(64)
        assert written > 16  # data spread across more buckets
        assert table.manifest()["num_buckets"] == 64
        after = {(r["repo"], r["path"], r["content"]) for r in table.read().collect()}
        assert after == before
        # lookup prunes under the NEW layout
        probe = table.read().first()
        df = table.lookup({"repo": probe["repo"], "path": probe["path"]})
        assert df.count() == 1
        bdirs = {p.split("_bucket=")[1].split("/")[0] for p in df.inputFiles()}
        assert len(bdirs) == 1

    def test_time_travel_across_rebucket(self, spark, table):
        v0 = table.manifest()["version"]
        probe = table.read().first()
        table.rebucket(4)
        then = table.lookup(
            {"repo": probe["repo"], "path": probe["path"]}, version=v0
        ).first()
        assert then is not None and then["content"] == probe["content"]

    def test_merge_after_rebucket_uses_new_count(self, spark, table):
        table.rebucket(4)
        probe = table.read().first()
        upd = spark.createDataFrame(
            [(probe["repo"], probe["path"], 99_999, False, "REBUCKETED")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        stats = table.merge(upd, epoch_id=1)
        assert stats.total_buckets <= 4
        got = table.lookup({"repo": probe["repo"], "path": probe["path"]}).first()
        assert got["content"] == "REBUCKETED"

    def test_rebucket_carries_merged_update(self, spark, table):
        probe = table.read().first()
        upd = spark.createDataFrame(
            [(probe["repo"], probe["path"], 88_888, False, "VIA-MERGE")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(upd, epoch_id=1)
        table.rebucket(8)
        assert int(table.manifest()["num_buckets"]) == 8
        got = table.lookup({"repo": probe["repo"], "path": probe["path"]}).first()
        assert got["content"] == "VIA-MERGE"

    def test_noop_and_invalid(self, table):
        assert table.rebucket(16) == 0
        import pytest as _pt

        with _pt.raises(ValueError):
            table.rebucket(0)


class TestKeyBloomFilters:
    """Every data write attaches a parquet bloom filter to the KEY columns
    (and only those): inside a bucket the keys are hash-scattered so
    row-group min/max is useless for a point predicate — the bloom is what
    lets lookup() skip row groups after bucket pruning. Each bloom is sized
    from the bucket's row count, not written at parquet-mr's 1 MB default."""

    @staticmethod
    def _bloom_columns(spark, root, version):
        """``{column: largest bloom length in bytes}`` over a data version's
        files; 0 for a column without blooms."""
        import glob

        jvm = spark._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        seen = {}
        for f in glob.glob(
            os.path.join(root, "data", f"v{version}", "_bucket=*", "*.parquet")
        ):
            footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                conf, jvm.org.apache.hadoop.fs.Path(f)
            )
            for block in footer.getBlocks():
                for col in block.getColumns():
                    name = col.getPath().toDotString()
                    size = (
                        col.getBloomFilterLength()
                        if col.getBloomFilterOffset() >= 0 else 0
                    )
                    seen[name] = max(seen.get(name, 0), size)
        return seen

    def test_blooms_on_keys_only_and_lookup_still_exact(self, spark, tmp_path):
        from pyspark.sql import functions as F

        # parquet-mr only materializes a bloom when a chunk is NOT fully
        # dictionary-encoded (the dictionary is already exact membership) —
        # that fallback is exactly the high-cardinality-key case blooms
        # exist for, so force it here to observe the filters on test-sized
        # data
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        old_dict = hconf.get("parquet.enable.dictionary")
        hconf.set("parquet.enable.dictionary", "false")
        try:
            root = str(tmp_path / "bloomed")
            t = LakeTable.create(
                spark, root, key_columns=["repo", "path"], num_buckets=4
            )
            t.merge(
                spark.range(300).select(
                    F.concat(F.lit("r"), (F.col("id") % 6).cast("string")).alias("repo"),
                    F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
                    F.col("id").alias("_lsn"),
                    F.lit(False).alias("_tombstone"),
                    F.lit("body").alias("content"),
                ),
                epoch_id=0,
            )
            seen = self._bloom_columns(spark, root, t.manifest()["version"])
            assert seen["repo"] and seen["path"]
            assert not seen["content"] and not seen["_lsn"]
            # sized from at most 300 keys per bucket, not parquet-mr's 1 MB
            assert max(seen["repo"], seen["path"]) < 64 * 1024
            row = t.lookup({"repo": "r1", "path": "f7"}).collect()
            assert len(row) == 1 and row[0]["_lsn"] == 7
            # a merge into populated buckets sizes from their __rows stats
            t.merge(
                spark.range(250, 350).select(
                    F.concat(F.lit("r"), (F.col("id") % 6).cast("string")).alias("repo"),
                    F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
                    (F.col("id") + 1000).alias("_lsn"),
                    F.lit(False).alias("_tombstone"),
                    F.lit("body2").alias("content"),
                ),
                epoch_id=1,
            )
            seen = self._bloom_columns(spark, root, t.manifest()["version"])
            assert 0 < max(seen["repo"], seen["path"]) < 64 * 1024
            row = t.lookup({"repo": "r1", "path": "f301"}).collect()
            assert len(row) == 1 and row[0]["_lsn"] == 1301
        finally:
            if old_dict is None:
                hconf.unset("parquet.enable.dictionary")
            else:
                hconf.set("parquet.enable.dictionary", old_dict)

    def test_manifest_with_legacy_bloom_keys_field_reads(self, spark, tmp_path):
        """Older tables recorded a per-table ``bloom_keys`` switch in the
        manifest. The field is ignored now, but such a table still reads
        and merges."""
        import json

        from pyspark.sql import functions as F

        root = str(tmp_path / "legacy")
        t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=2)

        def rows(lo, hi):
            return spark.range(lo, hi).select(
                F.col("id"), F.col("id").alias("_lsn"),
                F.lit(False).alias("_tombstone"), F.lit("x").alias("c"),
            )

        t.merge(rows(0, 50), epoch_id=0)
        path = os.path.join(root, "manifests", f"v{t.manifest()['version']}.json")
        with open(path) as f:
            m = json.load(f)
        with open(path, "w") as f:
            json.dump({**m, "bloom_keys": False}, f)
        t = LakeTable.load(spark, root)
        t.merge(rows(40, 60), epoch_id=1)
        assert t.read().count() == 60
        assert t.lookup({"id": 55}).collect()[0]["c"] == "x"
