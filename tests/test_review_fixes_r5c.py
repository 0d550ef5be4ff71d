"""Round-5 third self-review batch: regression tests for defects found by
an adversarial read of the round-5 diff.

1. ``read_changes`` detected updates ONLY by LSN inequality, so
   LSN-preserving mutations (``update_where``, ``merge_into`` matched
   updates — both keep ``_lsn`` by contract) were invisible to the change
   feed: replicas and maintained views silently diverged from the source.
2. ``expire_snapshots`` retained only branch HEADS, deleting interior
   branch manifests — ``publish()`` (which walks the branch's parent
   chain) was permanently wedged for any staged branch with 2+ commits.
3. ``merge_source_to_envelope`` collapsed ALL distinct NULL-component
   composite keys into the single NULL envelope identity, silently losing
   rows in the downstream LWW merge.
4. ``merge()`` must report the LWW-collapsed winner set as
   ``rows_written``, which ``replicate()`` reports as ``rows_applied``
   (a merge path once returned 0 after applying rows).
5. ``agg_delta`` mishandled NULL measure values: retracting a group's
   last non-NULL value left the maintained sum at 0 where recomputation
   says NULL, breaking ``advance(full(v0), v0, v1) == full(v1)``.
6. ``merge_into`` leaked its persisted full-outer join when the write or
   commit raised.
7. ``_footer_stats`` hard-imported pyarrow on every commit path — a bare
   pyspark install (no pyarrow) lost every write API instead of just the
   stats accelerator.
"""

import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import LakeTable


def _merge(table, rows, epoch):
    df = table.spark.createDataFrame(
        rows,
        "repo string, path string, lang string, size long, _lsn long, _tombstone boolean",
    )
    return table.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=epoch)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4
    )


class TestCdfSeesLsnPreservingMutations:
    def test_update_where_surfaces_in_read_changes(self, table):
        _merge(
            table,
            [
                Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False),
                Row(repo="r", path="b", lang="go", size=2, _lsn=2, _tombstone=False),
            ],
            0,
        )
        v0 = table.manifest()["version"]
        table.update_where(F.col("lang") == "py", {"size": F.lit(99)})
        v1 = table.manifest()["version"]
        feed = table.read_changes(v0, v1, include_preimages=True).collect()
        by_type = {(r["_change_type"], r["path"]): r for r in feed}
        # the mutated row surfaces as a preimage/postimage pair even though
        # its _lsn did not change (update_where keeps it by contract)
        assert ("update_postimage", "a") in by_type
        assert by_type[("update_postimage", "a")]["size"] == 99
        assert by_type[("update_preimage", "a")]["size"] == 1
        # the untouched row in the OTHER bucket emits nothing; a
        # carried-forward row in the SAME rewritten bucket also must not
        assert all(r["path"] == "a" for r in feed)

    def test_replica_converges_after_update_where(self, spark, tmp_path, table):
        from kafka_connect_plugins_spark.plans.replication import replicate

        _merge(
            table,
            [
                Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False),
                Row(repo="r", path="b", lang="go", size=2, _lsn=2, _tombstone=False),
            ],
            0,
        )
        replica = LakeTable.create(
            spark, str(tmp_path / "rep"), key_columns=["repo", "path"], num_buckets=4
        )
        replicate(table, replica, verify=False)
        table.update_where(F.col("lang") == "py", {"size": F.lit(99)})
        out = replicate(table, replica, verify=True)
        assert out["verified"], (
            "replica diverged: LSN-preserving update_where was invisible "
            "to the change feed"
        )
        assert out["rows_applied"] == 1

    def test_map_typed_payload_compares_without_error(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "m"), key_columns=["k"], num_buckets=2
        )
        df = spark.createDataFrame(
            [("a", {"x": "1"}, 1, False), ("b", {"y": "2"}, 2, False)],
            "k string, props map<string,string>, _lsn long, _tombstone boolean",
        )
        t.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=0)
        v0 = t.manifest()["version"]
        df2 = spark.createDataFrame(
            [("a", {"x": "9"}, 10, False)],
            "k string, props map<string,string>, _lsn long, _tombstone boolean",
        )
        t.merge(df2, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=1)
        v1 = t.manifest()["version"]
        # maps are not null-safe-comparable: the value diff must route them
        # through to_json instead of raising AnalysisException
        rows = t.read_changes(v0, v1).collect()
        assert [r["k"] for r in rows] == ["a"]
        assert rows[0]["props"] == {"x": "9"}


class TestExpireKeepsBranchAncestry:
    def test_publish_survives_gc_on_multi_commit_branch(self, table):
        _merge(
            table,
            [Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False)],
            0,
        )
        staged = table.create_branch("stage")
        _merge(
            staged,
            [Row(repo="r", path="b", lang="go", size=2, _lsn=2, _tombstone=False)],
            1,
        )
        b1 = staged.manifest()["version"]
        _merge(
            staged,
            [Row(repo="r", path="c", lang="rs", size=3, _lsn=3, _tombstone=False)],
            2,
        )
        table.expire_snapshots(keep_last=1)
        # the INTERIOR branch manifest must survive GC: publish walks the
        # branch's parent chain to prove main's head is an ancestor
        staged.manifest(b1)  # still readable
        published = table.publish("stage")
        assert published == staged.manifest(published)["version"]
        assert sorted(
            r["path"] for r in LakeTable(table.spark, table.root).read().collect()
        ) == ["a", "b", "c"]

    def test_main_history_still_ages_out(self, table):
        versions = []
        for i in range(3):
            _merge(
                table,
                [Row(repo="r", path=f"p{i}", lang="py", size=i, _lsn=i + 1, _tombstone=False)],
                i,
            )
            versions.append(table.manifest()["version"])
        out = table.expire_snapshots(keep_last=1)
        assert out["manifests_removed"] >= 2
        with pytest.raises(FileNotFoundError):
            table.manifest(versions[0])


class TestEnvelopeNullKeyPolicy:
    def _src(self, spark):
        return spark.createDataFrame(
            [("x", None, "p1", 1, False), (None, "x", "p2", 2, False),
             ("a", "b", "p3", 3, False)],
            "ka string, kb string, payload string, _lsn long, _tombstone boolean",
        )

    def test_default_errors_loudly(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            merge_source_to_envelope,
        )

        env = merge_source_to_envelope(self._src(spark), ["ka", "kb"])
        with pytest.raises(Exception, match="NULL component in the composite key"):
            env.collect()

    def test_drop_filters_and_keeps_real_keys(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            merge_source_to_envelope,
        )

        env = merge_source_to_envelope(
            self._src(spark), ["ka", "kb"], null_key_policy="drop"
        )
        assert [r["key"] for r in env.collect()] == ["a|b"]

    def test_unknown_policy_rejected(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            merge_source_to_envelope,
        )

        with pytest.raises(ValueError, match="null_key_policy"):
            merge_source_to_envelope(self._src(spark), ["ka"], null_key_policy="x")


class TestRowsWritten:
    def test_merge_reports_winner_keys(self, table):
        stats = table.merge(
            table.spark.createDataFrame(
                [
                    Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False),
                    Row(repo="r", path="a", lang="py", size=2, _lsn=2, _tombstone=False),
                    Row(repo="r", path="b", lang="go", size=3, _lsn=3, _tombstone=False),
                ],
                "repo string, path string, lang string, size long, _lsn long, _tombstone boolean",
            ),
            lsn_col="_lsn",
            tombstone_col="_tombstone",
            epoch_id=0,
        )
        # 2 distinct keys = the LWW-collapsed rows written
        assert stats.rows_written == 2

    def test_replicate_reports_rows(self, spark, tmp_path, table):
        from kafka_connect_plugins_spark.plans.replication import replicate

        _merge(
            table,
            [Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False)],
            0,
        )
        replica = LakeTable.create(
            spark, str(tmp_path / "rep2"), key_columns=["repo", "path"], num_buckets=4
        )
        out = replicate(table, replica, verify=True)
        assert out["rows_applied"] == 1 and out["verified"]


class TestNullMeasureInvariant:
    def test_retracting_last_nonnull_value_reads_null(self, table):
        from kafka_connect_plugins_spark.plans.incremental_view import (
            IncrementalAggView,
        )

        view = IncrementalAggView(table, ["lang"], {"total_size": F.col("size")})
        _merge(
            table,
            [Row(repo="r", path="a", lang="py", size=5, _lsn=1, _tombstone=False)],
            0,
        )
        v0 = table.manifest()["version"]
        state = view.full(v0)
        # update writes NULL over the group's only non-NULL value
        _merge(
            table,
            [Row(repo="r", path="a", lang="py", size=None, _lsn=10, _tombstone=False)],
            1,
        )
        v1 = table.manifest()["version"]
        advanced = {r["lang"]: (r["total_size"], r["n_rows"])
                    for r in view.advance(state, v0, v1).collect()}
        recomputed = {r["lang"]: (r["total_size"], r["n_rows"])
                      for r in view.full(v1).collect()}
        # SQL sum over the all-NULL group is NULL, not 0 — both paths agree
        assert advanced == recomputed == {"py": (None, 1)}

    def test_plain_state_without_nn_columns_still_folds(self, spark):
        from kafka_connect_plugins_spark.plans.incremental_view import (
            apply_agg_delta,
        )

        state = spark.createDataFrame([Row(lang="go", total_size=4, n_rows=1)])
        delta = spark.createDataFrame([Row(lang="go", total_size=3, n_rows=1)])
        out = apply_agg_delta(state, delta, ["lang"]).collect()
        assert [(r["total_size"], r["n_rows"]) for r in out] == [(7, 2)]


class TestMergeIntoUnpersistsOnFailure:
    def test_failed_write_releases_cache(self, table):
        _merge(
            table,
            [Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False)],
            0,
        )
        src = table.spark.createDataFrame(
            [Row(repo="r", path="a", nonsense="x")],
        )
        sc = table.spark.sparkContext
        before = sc._jsc.sc().getPersistentRDDs().size()
        with pytest.raises(Exception):
            # assignment evaluates at write time and raises mid-job
            table.merge_into(
                src,
                matched_update={
                    "size": F.raise_error(F.lit("boom")).cast("long")
                },
            )
        after = sc._jsc.sc().getPersistentRDDs().size()
        assert after <= before, "merge_into leaked its persisted join"


class TestFooterStatsOptionalPyarrow:
    def test_missing_pyarrow_degrades_to_no_stats(self, table, monkeypatch):
        _merge(
            table,
            [Row(repo="r", path="a", lang="py", size=1, _lsn=1, _tombstone=False)],
            0,
        )
        # a None entry in sys.modules makes `import pyarrow.parquet` raise
        # ImportError — the bare-pyspark-driver simulation
        monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)
        stats = LakeTable._footer_stats(table.root)
        assert stats == {}
        # and a commit under the degraded path still succeeds
        s = _merge(
            table,
            [Row(repo="r", path="b", lang="go", size=2, _lsn=2, _tombstone=False)],
            1,
        )
        assert not s.skipped
        assert sorted(r["path"] for r in table.read().collect()) == ["a", "b"]
