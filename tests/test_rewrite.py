"""The shared copy-on-write rewrite step (``LakeTable._rewrite``).

``purge_tombstones`` finds its dirty buckets with the same finder as
``delete_where``/``update_where``, pruned by file stats first, so a bucket
whose stats rule a purge out is never scanned. ``merge_into`` takes its
action counts from the write itself, and a merge where no clause fires
leaves neither a snapshot nor a data dir behind.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import (
    BUCKET_COL,
    LakeTable,
    _bucket_id,
)
from tests.helpers import spark_jobs

N_BUCKETS = 8


def _table(spark, root, marked=None, lsn_base=0):
    """400 keys over 8 buckets, ``_lsn = lsn_base + id``; ``marked`` maps a
    key to the LSN of the delete marker it carries instead."""
    t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=N_BUCKETS)
    marked = marked or {}
    is_marked = F.col("id").isin(list(marked)) if marked else F.lit(False)
    lsn = F.col("id") + lsn_base
    for k, v in marked.items():
        lsn = F.when(F.col("id") == k, F.lit(v)).otherwise(lsn)
    t.merge(
        spark.range(400).select(
            "id",
            lsn.cast("long").alias("_lsn"),
            is_marked.alias("_tombstone"),
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("content"),
        ),
        epoch_id=0,
    )
    return t


def _first_key_per_bucket(spark):
    rows = spark.range(400).select(
        "id", _bucket_id(["id"], N_BUCKETS).alias("b")
    ).groupBy("b").agg(F.min("id").alias("id")).collect()
    return {r["b"]: r["id"] for r in rows}


def test_stats_excluded_purge_runs_no_job(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), marked={7: 1007, 300: 1300}, lsn_base=1000)
    v0 = t.manifest()["version"]
    out = []
    # every bucket's smallest _lsn is >= 1000: the stats rule the purge out
    assert spark_jobs(spark, lambda: out.append(t.purge_tombstones(below_lsn=500))) == 0
    assert out == [0]
    assert t.manifest()["version"] == v0


def test_purge_scans_only_buckets_whose_stats_allow_it(spark, tmp_path, monkeypatch):
    first = _first_key_per_bucket(spark)
    assert sorted(first) == list(range(N_BUCKETS))
    purgeable, shielding = [0, 1, 2], [3, 4]
    below = 1000
    # buckets 0-2 hold a marker below the bound, 3-4 one at or above it
    # (their stats still allow a purge: a marker, and live rows below the
    # bound), 5-7 none
    marked = {first[b]: first[b] for b in purgeable}
    marked.update({first[b]: below + first[b] for b in shielding})
    t = _table(spark, str(tmp_path / "t"), marked=marked)
    m0 = t.manifest()

    reads = []
    read_buckets = LakeTable._read_buckets

    def spy(self, manifest, buckets, prune=None):
        df = read_buckets(self, manifest, buckets, prune)
        reads.append(sorted({
            int(re.search(rf"{BUCKET_COL}=(\d+)", f).group(1))
            for f in (df.inputFiles() if df is not None else [])
        }))
        return df

    monkeypatch.setattr(LakeTable, "_read_buckets", spy)
    assert t.purge_tombstones(below_lsn=below) == len(purgeable)

    # one scan of the stat candidates, then one read of the dirty buckets
    assert reads == [purgeable + shielding, purgeable]
    m1 = t.manifest()
    rewritten = sorted(
        int(b) for b in m1["buckets"] if m1["buckets"][b] != m0["buckets"].get(b)
    )
    assert rewritten == purgeable
    kept = {r["id"] for r in t.read_internal().filter("_tombstone").collect()}
    assert kept == {first[b] for b in shielding}


@pytest.fixture()
def table(spark, tmp_path):
    return _table(spark, str(tmp_path / "t"))


def test_noop_merge_into_leaves_no_snapshot_and_no_data_dir(spark, table):
    data = os.path.join(table.root, "data")
    v0, dirs0 = table.manifest()["version"], sorted(os.listdir(data))
    out = table.merge_into(
        spark.range(1000, 1010).select("id", F.lit("x").alias("content")),
        not_matched_insert=False,
    )
    assert out == {"op": "merge_into", "rows_updated": 0, "rows_deleted": 0,
                   "rows_inserted": 0, "buckets_rewritten": 0}
    assert table.manifest()["version"] == v0
    assert sorted(os.listdir(data)) == dirs0


def test_merge_into_counts_come_from_the_write(spark, table):
    """Updates, deletes and inserts are counted on the written rows: no
    cached join and no separate counting pass."""
    src = spark.range(0, 440, 10).select(
        "id", F.when(F.col("id") % 20 == 0, "del").otherwise("upd").alias("op")
    )
    out = []
    jobs = spark_jobs(spark, lambda: out.append(table.merge_into(
        src,
        matched_update={"content": F.lit("u")},
        matched_delete_condition=F.col("src.op") == "del",
    )))
    assert out[0]["rows_deleted"] == 20
    assert out[0]["rows_updated"] == 20
    assert out[0]["rows_inserted"] == 4
    state = {r["id"]: r["content"] for r in table.read().collect()}
    assert len(state) == 400 - 20 + 4
    assert sum(v == "u" for v in state.values()) == 20
    # the source-key stats collect, then the one rewrite
    assert jobs <= 8, jobs
