"""Type-widening schema evolution (int->long, float->double)."""

import pytest
from pyspark.sql import Row

from kafka_connect_plugins_spark.plans.lake_table import LakeTable, SchemaEvolutionError


def _merge(t, schema, rows, epoch):
    df = t.spark.createDataFrame(rows, schema)
    return t.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=epoch)


NARROW = "repo string, path string, size int, ratio float, _lsn long, _tombstone boolean"
WIDE = "repo string, path string, size long, ratio double, _lsn long, _tombstone boolean"


def test_widening_promotes_table_schema(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4)
    _merge(t, NARROW, [Row(repo="r", path="a", size=1, ratio=0.5, _lsn=1, _tombstone=False)], 0)
    assert dict(t.read().dtypes)["size"] == "int"
    stats = _merge(
        t, WIDE,
        [Row(repo="r", path="b", size=2**40, ratio=0.25, _lsn=2, _tombstone=False)],
        1,
    )
    assert stats.schema_widened_columns == ["size", "ratio"]
    got = {r.path: (r.size, r.ratio) for r in t.read().collect()}
    # old narrow file (path=a) reads under the widened schema, un-rewritten
    assert got == {"a": (1, 0.5), "b": (2**40, 0.25)}
    assert dict(t.read().dtypes) == {
        "repo": "string", "path": "string", "size": "bigint",
        "ratio": "double", "_lsn": "bigint",
    }


def test_narrow_batch_into_wide_table_accepted(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4)
    _merge(t, WIDE, [Row(repo="r", path="a", size=2**40, ratio=1.5, _lsn=1, _tombstone=False)], 0)
    stats = _merge(t, NARROW, [Row(repo="r", path="b", size=7, ratio=0.5, _lsn=2, _tombstone=False)], 1)
    assert stats.schema_widened_columns == [] and stats.schema_added_columns == []
    got = {r.path: (r.size, r.ratio) for r in t.read().collect()}
    assert got == {"a": (2**40, 1.5), "b": (7, 0.5)}
    assert dict(t.read().dtypes)["size"] == "bigint"


def test_time_travel_keeps_old_snapshot_types(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4)
    _merge(t, NARROW, [Row(repo="r", path="a", size=1, ratio=0.5, _lsn=1, _tombstone=False)], 0)
    v1 = t.manifest()["version"]
    _merge(t, WIDE, [Row(repo="r", path="a", size=2**40, ratio=2.5, _lsn=2, _tombstone=False)], 1)
    assert dict(t.read(v1).dtypes)["size"] == "int"       # snapshot schema
    assert dict(t.read().dtypes)["size"] == "bigint"
    assert t.read(v1).collect()[0].size == 1


def test_incompatible_change_still_raises(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4)
    _merge(t, NARROW, [Row(repo="r", path="a", size=1, ratio=0.5, _lsn=1, _tombstone=False)], 0)
    bad = "repo string, path string, size string, ratio float, _lsn long, _tombstone boolean"
    with pytest.raises(SchemaEvolutionError, match="promotion"):
        _merge(t, bad, [Row(repo="r", path="b", size="big", ratio=0.5, _lsn=2, _tombstone=False)], 1)


def test_widening_survives_compact(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4)
    _merge(t, NARROW, [Row(repo="r", path="a", size=1, ratio=0.5, _lsn=1, _tombstone=False)], 0)
    df = spark.createDataFrame(
        [Row(repo="r", path="b", size=2**40, ratio=0.5, _lsn=2, _tombstone=False)], WIDE
    )
    t.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=1)
    got = {r.path: r.size for r in t.read().collect()}
    assert got == {"a": 1, "b": 2**40}
    t.compact(sort_by=["size"])
    assert {r.path: r.size for r in t.read().collect()} == got
    assert dict(t.read().dtypes)["size"] == "bigint"
