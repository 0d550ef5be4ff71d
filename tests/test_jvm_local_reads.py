"""The CDC read path keeps Python-local data in the JVM.

``lookup`` builds its key rows, and every read builds its empty results, as
JVM ``LocalRelation``s. So ``merge``, ``read``, ``read_changes``, ``lookup``
and ``merge_into`` never start a Python worker process, and the lookup's
bucket ids fold on the driver without a Spark job. Every empty result keeps
the table's exact schema: names, types, nullability and metadata.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.plans.lake_table import LakeTable
from tests.helpers import spark_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), True),
    T.StructField("path", T.StringType(), True),
    T.StructField("size", T.LongType(), False),
    T.StructField("content", T.StringType(), True, {"comment": "body"}),
    T.StructField("_lsn", T.LongType(), True),
])
CDF_COLS = [
    T.StructField("_change_type", T.StringType(), False),
    T.StructField("_commit_version", T.LongType(), False),
]


def _rows(spark, n):
    """A JVM-built source (no Python rows): repo 'r', path '0'..'n-1'."""
    return spark.range(n).select(
        F.lit("r").alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.col("id").alias("size"),
        F.lit("c").alias("content"),
        F.col("id").alias("_lsn"),
    )


_NO_WORKER_SCRIPT = textwrap.dedent(
    """
    import json, os, sys, time
    sys.path.insert(0, {repo!r})
    from pyspark import SparkContext
    from pyspark.sql import SparkSession, functions as F, types as T
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.driver.memory", "1g").getOrCreate())
    root = {root!r}
    t = LakeTable.create(spark, os.path.join(root, "t"), ["repo", "path"], 4)
    t.merge(spark.range(20).select(
        F.lit("r").alias("repo"),
        F.when(F.col("id") == 0, F.lit(None)).otherwise(
            F.col("id").cast("string")).alias("path"),
        F.col("id").alias("_lsn"),
        F.lit(False).alias("_tombstone"),
        F.lit("c").alias("content"),
    ), epoch_id=0)
    got = {{
        "feed": t.read_changes(0, 1).count(),
        "no_change": t.read_changes(1, 1).count(),
        "single": t.lookup({{"repo": "r", "path": "3"}}).count(),
        "multi": t.lookup([{{"repo": "r", "path": "3"}},
                           {{"repo": "r", "path": "4"}}]).count(),
        "null": t.lookup([{{"repo": "r", "path": None}},
                          {{"repo": "r", "path": "5"}}]).count(),
    }}
    schema = T.StructType.fromDDL("repo string, path string, content string, _lsn long")
    e = LakeTable.create(spark, os.path.join(root, "e"), ["repo", "path"], 4,
                         schema=schema)
    got["empty_read"] = e.read().count()
    got["merge_into"] = e.merge_into(spark.range(3).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("content"), F.col("id").alias("_lsn"),
    ))["rows_inserted"]

    jvm = SparkContext._gateway.proc.pid

    def children():
        # {{pid: cmdline}} of the JVM's children. A child that exits between
        # the listing and the read, or is mid-exit (empty cmdline), is
        # skipped: it is transient, not a worker.
        out = {{}}
        for tid in os.listdir(f"/proc/{{jvm}}/task"):
            try:
                with open(f"/proc/{{jvm}}/task/{{tid}}/children") as f:
                    pids = f.read().split()
            except FileNotFoundError:
                continue
            for pid in pids:
                try:
                    with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                        cmd = f.read().replace(b"\\0", b" ").decode().strip()
                except (FileNotFoundError, ProcessLookupError):
                    continue
                if cmd:
                    out[pid] = cmd
        return out

    # re-read until two scans agree: a short-lived child (e.g. a shell
    # command) is gone by the next scan, a Python worker daemon stays
    cur = children()
    for _ in range(20):
        time.sleep(0.25)
        prev, cur = cur, children()
        if cur == prev:
            break
    print("RESULT " + json.dumps({{"got": got, "children": sorted(cur.values())}}))
    spark.stop()
    """
)


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.exists(f"/proc/{os.getpid()}/task"), reason="needs Linux /proc"
)
def test_read_path_starts_no_python_worker(tmp_path):
    # a fresh process: the shared test session has run pandas UDFs already,
    # so its JVM owns a Python daemon whatever this path does
    script = _NO_WORKER_SCRIPT.format(repo=REPO, root=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
    out = json.loads(line[len("RESULT "):])
    assert out["got"] == {
        "feed": 20, "no_change": 0, "single": 1, "multi": 2, "null": 2,
        "empty_read": 0, "merge_into": 3,
    }
    # no pyspark.daemon (or any other lasting process) was started by the JVM
    assert out["children"] == []


class TestSparkJobs:
    def test_single_key_lookup_runs_two_jobs(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "t"), ["repo", "path"], 8)
        t.merge(_rows(spark, 50).withColumn("_tombstone", F.lit(False)))
        t.lookup({"repo": "r", "path": "7"}).collect()  # warm the caches
        got = []
        # the parquet schema-inference job and the scan; the bucket id
        # itself costs no job
        assert spark_jobs(spark, lambda: got.extend(
            t.lookup({"repo": "r", "path": "7"}).collect())) == 2
        assert [(r["path"], r["size"]) for r in got] == [("7", 7)]

    def test_bucket_ids_fold_on_the_driver(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "t"), ["repo", "path"], 8)
        keys = t._key_rows(T.StructType(SCHEMA.fields[:2]), [
            {"repo": "r", "path": "7"}, {"repo": "r", "path": None},
        ])
        buckets = []
        assert spark_jobs(spark, lambda: buckets.extend(keys.select(
            F.pmod(F.xxhash64("repo", "path"), F.lit(8)).alias("b")
        ).collect())) == 0
        # the writer's expression over the same values
        want = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit("r"), F.lit("7")), F.lit(8)).alias("b"),
            F.pmod(F.xxhash64(F.lit("r"), F.lit(None).cast("string")),
                   F.lit(8)).alias("n"),
        ).first()
        assert [r["b"] for r in buckets] == [want["b"], want["n"]]

    def test_key_names_quoted_and_values_bound(self, spark, tmp_path):
        # a key column name that is not a bare SQL identifier, and values
        # that would break (or rewrite) the query if spliced into its text
        t = LakeTable.create(spark, str(tmp_path / "t"), ["repo id", "path"], 8)
        t.merge(spark.range(1).select(
            F.lit("it's `odd`").alias("repo id"),
            F.lit("a) UNION (SELECT 1").alias("path"),
            F.lit(1).cast("long").alias("_lsn"),
            F.lit(False).alias("_tombstone"),
        ))
        key = {"repo id": "it's `odd`", "path": "a) UNION (SELECT 1"}
        for keys in (key, [key, {"repo id": "x", "path": "y"}]):
            got = t.lookup(keys).collect()
            assert [(r["repo id"], r["path"]) for r in got] == [
                ("it's `odd`", "a) UNION (SELECT 1")
            ]


class TestEmptyResultSchemas:
    @pytest.fixture()
    def empty(self, spark, tmp_path):
        return LakeTable.create(
            spark, str(tmp_path / "t"), ["repo", "path"], 4, schema=SCHEMA
        )

    def test_read_of_empty_table(self, empty):
        df = empty.read()
        assert df.schema == SCHEMA and df.collect() == []

    def test_lookup_with_no_files(self, empty):
        df = empty.lookup({"repo": "r", "path": "p"})
        assert df.schema == SCHEMA and df.collect() == []

    def test_lookup_of_no_keys(self, spark, empty):
        empty.merge_into(_rows(spark, 3))
        df = empty.lookup([])
        assert df.schema == SCHEMA and df.collect() == []

    def test_no_change_feed(self, empty):
        df = empty.read_changes(0, 0)
        assert df.schema == T.StructType(SCHEMA.fields + CDF_COLS)
        assert df.collect() == []

    def test_feed_from_empty_snapshot_and_merge_into(self, spark, empty):
        res = empty.merge_into(_rows(spark, 5))
        assert res["rows_inserted"] == 5
        feed = empty.read_changes(0, 1)
        assert feed.schema == T.StructType(empty.read().schema.fields + CDF_COLS)
        assert sorted((r["path"], r["_change_type"], r["_commit_version"])
                      for r in feed.collect()) == [
            (str(i), "insert", 1) for i in range(5)
        ]
        # a no-change feed past the first commit keeps the manifest schema
        assert empty.read_changes(1, 1).schema == T.StructType(
            SCHEMA.fields + CDF_COLS
        )
