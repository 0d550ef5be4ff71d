"""Every bucket rewrite places each dirty bucket in a task of its own.

The data a rewrite hands to ``LakeTable._commit`` must hold exactly one
bucket per non-empty partition, and one non-empty partition per dirty
bucket: hash-partitioning the few small bucket ids would stack several
buckets in one task and leave others idle.
"""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import BUCKET_COL, LakeTable

SCHEMA = "id long, _lsn long, _tombstone boolean, content string"


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), key_columns=["id"], num_buckets=8)
    t.merge(
        spark.range(400).select(
            "id",
            F.col("id").alias("_lsn"),
            (F.col("id") % 7 == 0).alias("_tombstone"),
            F.concat(F.lit("c"), (F.col("id") * 37 % 400).cast("string")).alias("content"),
        ),
        epoch_id=0,
    )
    return t


OPS = {
    "compact_sort_by": lambda t: t.compact(sort_by=["content"]),
    "rebucket": lambda t: t.rebucket(12),
    "purge_tombstones": lambda t: t.purge_tombstones(below_lsn=10**6),
    "delete_where": lambda t: t.delete_where(F.col("id") % 5 == 0),
    "update_where": lambda t: t.update_where(
        F.col("id") % 3 == 0, {"content": F.lit("u")}
    ),
    "merge_into": lambda t: t.merge_into(
        t.spark.createDataFrame([(i, 0, False, "m") for i in range(0, 400, 9)], SCHEMA),
        matched_update={"content": F.col("src.content")},
    ),
}


@pytest.mark.parametrize("name", sorted(OPS))
def test_rewrite_places_one_bucket_per_task(table, monkeypatch, name):
    seen = []
    commit = LakeTable._commit

    def spy(self, manifest, summary, **kw):
        if kw.get("data") is not None:
            per_task = (
                kw["data"]
                .select(F.spark_partition_id().alias("p"), BUCKET_COL)
                .groupBy("p")
                .agg(F.countDistinct(BUCKET_COL).alias("n"))
                .collect()
            )
            seen.append((sorted(kw["dirty"]), [r["n"] for r in per_task]))
        return commit(self, manifest, summary, **kw)

    monkeypatch.setattr(LakeTable, "_commit", spy)
    OPS[name](table)

    assert len(seen) == 1
    dirty, per_task = seen[0]
    assert len(dirty) > 1
    assert per_task and all(n == 1 for n in per_task), per_task
    assert len(per_task) == len(dirty)


def test_lww_keeps_one_exchange(spark, table):
    """The merge's LWW collapse groups on the slot it placed by, so its
    aggregation reuses the placement exchange."""
    prep = table.merge_prepare(
        spark.range(200, 600).select(
            "id", F.col("id").alias("_lsn"), F.lit("x").alias("content")
        ),
        tombstone_col=None,
    )
    dirty = sorted(int(r[BUCKET_COL]) for r in prep.bucket_counts)
    target = table._read_buckets(table.manifest(), dirty)
    plan = (
        LakeTable._lww([target, prep.src], ["id"], dirty)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
