"""Column-mapping schema evolution: metadata-only rename / drop
(plans/lake_table.py — Delta columnMapping=name / Iceberg field-id
semantics: physical names immutable, logical names in the manifest)."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import (
    LakeTable,
    SchemaEvolutionError,
)


def _table(spark, tmp_path, buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), key_columns=["repo", "path"], num_buckets=buckets
    )


def _src(spark, rows, cols="repo string, path string, commit string, lang string, "
         "content string, _lsn long, _tombstone boolean"):
    names = [c.split()[0] for c in cols.split(", ")]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in names) for r in rows], cols
    )


def _row(repo, path, content, lsn, **kw):
    return {"repo": repo, "path": path, "commit": kw.get("commit", "c"),
            "lang": kw.get("lang", "py"), "content": content,
            "_lsn": lsn, "_tombstone": kw.get("tombstone", False)}


def _data_versions(root):
    return sorted(os.listdir(os.path.join(root, "data")))


class TestRename:
    def test_rename_is_metadata_only(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1), _row("r", "b", "B", 2)]))
        before = _data_versions(t.root)
        v = t.rename_column("content", "body")
        assert _data_versions(t.root) == before  # no data write
        got = {(r["repo"], r["path"]): r["body"] for r in t.read().collect()}
        assert got == {("r", "a"): "A", ("r", "b"): "B"}
        assert "content" not in t.read().columns
        # time travel: the old snapshot keeps its own name
        old = t.read(version=v - 1)
        assert "content" in old.columns and "body" not in old.columns

    def test_merge_after_rename_and_back_compat_files(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        t.rename_column("content", "body")
        # new batches speak the NEW name
        t.merge(_src(spark, [{**_row("r", "b", None, 2), "body": "B"}],
                     cols="repo string, path string, commit string, lang string, "
                          "body string, _lsn long, _tombstone boolean"))
        got = {(r["repo"], r["path"]): r["body"] for r in t.read().collect()}
        assert got == {("r", "a"): "A", ("r", "b"): "B"}
        # files written before AND after the rename carry the same physical
        # column; lookup by the new logical name works across both
        assert t.lookup({"repo": "r", "path": "a"}).first()["body"] == "A"
        assert t.lookup({"repo": "r", "path": "b"}).first()["body"] == "B"

    def test_rename_key_column(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        t.rename_column("path", "file_path")
        assert t.manifest()["key_columns"] == ["repo", "file_path"]
        t.merge(_src(spark, [{"repo": "r", "file_path": "a", "commit": "c",
                              "lang": "py", "content": "A2", "_lsn": 5,
                              "_tombstone": False}],
                     cols="repo string, file_path string, commit string, "
                          "lang string, content string, _lsn long, "
                          "_tombstone boolean"))
        got = {(r["repo"], r["file_path"]): r["content"] for r in t.read().collect()}
        assert got == {("r", "a"): "A2"}
        assert t.lookup({"repo": "r", "file_path": "a"}).first()["content"] == "A2"

    def test_prune_translates_to_physical_stats(self, spark, tmp_path):
        t = _table(spark, tmp_path, buckets=8)
        rows = [_row("r", f"p{i:03d}", f"C{i}", i + 1) for i in range(64)]
        t.merge(_src(spark, rows))
        t.rename_column("content", "body")
        pruned = t.read(prune={"path": ("p000", "p003")})
        full = t.read().filter(F.col("path").between("p000", "p003"))
        assert sorted((r["path"], r["body"]) for r in pruned.collect()) == sorted(
            (r["path"], r["body"]) for r in full.collect()
        )
        # stats pruning actually skipped files (bounds exclude most buckets)
        assert len(pruned.inputFiles()) < len(t.read().inputFiles())

    def test_rename_validation(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        with pytest.raises(SchemaEvolutionError):
            t.rename_column("content", "lang")  # collision
        with pytest.raises(KeyError):
            t.rename_column("nope", "x")
        with pytest.raises(SchemaEvolutionError):
            t.rename_column("content", "_bucket")  # engine name


class TestDrop:
    def test_drop_is_metadata_only_and_time_travels(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        before = _data_versions(t.root)
        v = t.drop_column("lang")
        assert _data_versions(t.root) == before
        assert "lang" not in t.read().columns
        assert t.read(version=v - 1).first()["lang"] == "py"

    def test_readd_does_not_resurrect_old_values(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1), _row("r", "b", "B", 2)]))
        t.drop_column("lang")
        # re-add the SAME logical name via schema evolution for one key only
        t.merge(_src(spark, [{"repo": "r", "path": "b", "commit": "c",
                              "lang": "go", "content": "B2", "_lsn": 9,
                              "_tombstone": False}]))
        got = {(r["repo"], r["path"]): r["lang"] for r in t.read().collect()}
        # the untouched row's OLD 'py' value must NOT leak back
        assert got == {("r", "a"): None, ("r", "b"): "go"}
        # and the new physical name differs from the retired one
        m = t.manifest()
        assert m["column_mapping"]["lang"]["physical"] != "lang"
        assert "lang" in m["retired_physical"]

    def test_drop_validation(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        with pytest.raises(SchemaEvolutionError):
            t.drop_column("repo")  # key
        with pytest.raises(KeyError):
            t.drop_column("nope")


class TestChangeFeedAcrossRename:
    def test_cdf_spans_a_rename(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        v0 = t.manifest()["version"]
        t.rename_column("content", "body")
        t.merge(_src(spark, [{**_row("r", "a", None, 5), "body": "A2"},
                             {**_row("r", "b", None, 6), "body": "B"}],
                     cols="repo string, path string, commit string, lang string, "
                          "body string, _lsn long, _tombstone boolean"))
        feed = t.read_changes(v0, include_preimages=True).collect()
        by = {(r["path"], r["_change_type"]): r for r in feed}
        assert set(by) == {("a", "update_preimage"), ("a", "update_postimage"),
                           ("b", "insert")}
        # the preimage carries the OLD value under the NEW logical name
        assert by[("a", "update_preimage")]["body"] == "A"
        assert by[("a", "update_postimage")]["body"] == "A2"
        assert by[("b", "insert")]["body"] == "B"

    def test_cdf_spans_a_drop(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        v0 = t.manifest()["version"]
        t.drop_column("lang")
        t.merge(_src(spark, [{"repo": "r", "path": "a", "commit": "c",
                              "content": "A2", "_lsn": 5, "_tombstone": False}],
                     cols="repo string, path string, commit string, "
                          "content string, _lsn long, _tombstone boolean"))
        feed = t.read_changes(v0).collect()
        assert all("lang" not in r.asDict() for r in feed)
        assert {r["_change_type"] for r in feed} == {"update_postimage"}


class TestMaintenanceUnderMapping:
    def test_compact_and_digest_stable_across_rename(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        for i in range(3):
            t.merge(_src(spark, [_row("r", f"p{j}", f"C{i}.{j}", i * 10 + j)
                                 for j in range(6)]))
        t.rename_column("content", "body")
        before = sorted(
            (r["repo"], r["path"], r["body"], r["_lsn"])
            for r in t.read().collect()
        )
        t.compact(sort_by=["body"])
        after = sorted(
            (r["repo"], r["path"], r["body"], r["_lsn"])
            for r in t.read().collect()
        )
        assert before == after

    def test_describe_surfaces_mapping(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [_row("r", "a", "A", 1)]))
        assert t.describe()["column_mapping"] is None
        t.rename_column("content", "body")
        d = t.describe()
        assert d["column_mapping"]["body"]["physical"] == "content"
        assert "body" in d["columns"] and "content" not in d["columns"]
