"""Round-3 fixes: null-key merge safety, LSN domain guard, DLQ
exactly-once-ish replay behavior, header multi-map fidelity (reference:
ModifyPartition.kt:36 lastWithName)."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.envelope import (
    HEADER_LIST_TYPE,
    header_list_to_map,
    last_with_name,
)
from kafka_connect_plugins_spark.plans.lake_table import LakeTable


def _table(spark, tmp_path, name="tbl", buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), key_columns=["repo", "path"], num_buckets=buckets
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


# ----------------------------------------------------------------------
# NULL-key merges — every plan must keep/upsert rows whose key is NULL
# (the engine itself produces path=NULL when the envelope key has no '|').
# ----------------------------------------------------------------------

_NULL_BATCH_1 = [
    {"repo": "r", "path": None, "content": "v1", "_lsn": 1, "_tombstone": False},
    {"repo": "r", "path": "p", "content": "p1", "_lsn": 2, "_tombstone": False},
    {"repo": None, "path": None, "content": "n1", "_lsn": 3, "_tombstone": False},
]
_NULL_BATCH_2 = [
    {"repo": "r", "path": None, "content": "v2", "_lsn": 10, "_tombstone": False},
    {"repo": "r", "path": None, "content": "stale", "_lsn": 0, "_tombstone": False},
]
_EXPECT_AFTER_2 = {
    ("r", None): ("v2", 10),
    ("r", "p"): ("p1", 2),
    (None, None): ("n1", 3),
}


def test_null_keys_plan_a_broadcast(spark, tmp_path):
    t = _table(spark, tmp_path, "a")
    t.merge(_src(spark, _NULL_BATCH_1))
    assert _state(t) == {
        ("r", None): ("v1", 1),
        ("r", "p"): ("p1", 2),
        (None, None): ("n1", 3),
    }
    st = t.merge(_src(spark, _NULL_BATCH_2))
    assert st.source_rows == 2
    assert _state(t) == _EXPECT_AFTER_2


def test_null_keys_survive_compact(spark, tmp_path):
    t = _table(spark, tmp_path, "d")
    t.merge(_src(spark, _NULL_BATCH_1))
    t.merge(_src(spark, _NULL_BATCH_2))
    assert _state(t) == _EXPECT_AFTER_2
    t.compact(sort_by=["_lsn"])
    assert _state(t) == _EXPECT_AFTER_2


def test_null_key_tombstone_round_trip(spark, tmp_path):
    t = _table(spark, tmp_path, "ts")
    t.merge(_src(spark, _NULL_BATCH_1))
    t.merge(_src(spark, [
        {"repo": "r", "path": None, "_lsn": 20, "_tombstone": True},
    ]))
    assert _state(t) == {("r", "p"): ("p1", 2), (None, None): ("n1", 3)}
    # a late lower-LSN insert must not resurrect the NULL-keyed row
    t.merge(_src(spark, [
        {"repo": "r", "path": None, "content": "late", "_lsn": 5, "_tombstone": False},
    ]))
    assert _state(t) == {("r", "p"): ("p1", 2), (None, None): ("n1", 3)}


# ----------------------------------------------------------------------
# LSN domain guards
# ----------------------------------------------------------------------

def test_lsn_at_domain_bound_raises(spark, tmp_path):
    t = _table(spark, tmp_path, "lsn")
    with pytest.raises(ValueError, match=r"2\*\*62"):
        t.merge(_src(spark, [
            {"repo": "r", "path": "p", "content": "x", "_lsn": 2**62, "_tombstone": False},
        ]))
    # below the bound is fine
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "x", "_lsn": 2**62 - 1, "_tombstone": False},
    ]))
    assert _state(t)[("r", "p")] == ("x", 2**62 - 1)


def test_null_lsn_raises(spark, tmp_path):
    t = _table(spark, tmp_path, "nulllsn")
    with pytest.raises(ValueError, match="NULL LSN"):
        t.merge(_src(spark, [
            {"repo": "r", "path": "p", "content": "x", "_lsn": None, "_tombstone": False},
        ]))


# ----------------------------------------------------------------------
# Header multi-map fidelity
# ----------------------------------------------------------------------

def test_last_with_name_duplicate_header_keys(spark):
    df = spark.createDataFrame(
        [([("account_id", "1"), ("trace", "t0"), ("account_id", "2")],),
         ([("trace", "t1")],),
         ([],)],
        f"hs {HEADER_LIST_TYPE.simpleString()}",
    )
    out = df.select(
        last_with_name(F.col("hs"), "account_id").alias("acct"),
        header_list_to_map(F.col("hs")).alias("m"),
    ).collect()
    # last-wins, like Kafka's Headers.lastWithName (ModifyPartition.kt:36)
    assert out[0]["acct"] == "2"
    assert out[0]["m"] == {"account_id": "2", "trace": "t0"}
    assert out[1]["acct"] is None
    assert out[1]["m"] == {"trace": "t1"}
    assert out[2]["acct"] is None
    assert out[2]["m"] == {}


def test_header_list_routing_matches_map_routing(spark):
    """ModifyPartition over a duplicate-key header list routes on the LAST
    value — identical to routing on the collapsed map."""
    from kafka_connect_plugins_spark.functions.hashing import crc32_pmod

    df = spark.createDataFrame(
        [([("account_id", "999"), ("account_id", "42")],)],
        f"hs {HEADER_LIST_TYPE.simpleString()}",
    )
    out = df.select(
        crc32_pmod(last_with_name(F.col("hs"), "account_id"), 10).alias("via_list"),
        crc32_pmod(header_list_to_map(F.col("hs"))["account_id"], 10).alias("via_map"),
        crc32_pmod(F.lit("42"), 10).alias("expected"),
    ).first()
    assert out["via_list"] == out["via_map"] == out["expected"]


# ----------------------------------------------------------------------
# DLQ replay semantics: a replayed already-committed epoch must not
# duplicate DLQ rows, and clean epochs must not write empty files.
# ----------------------------------------------------------------------

def test_dlq_not_duplicated_on_epoch_replay(spark, tmp_path):
    from pyspark.sql import types as T

    from kafka_connect_plugins_spark.envelope import envelope_schema
    from kafka_connect_plugins_spark.operators import Pipeline
    from kafka_connect_plugins_spark.streaming.ingest import StreamingIngest

    val_t = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("deleted_at", T.LongType()),
        ]
    )
    rows = [
        ("t", 0, i, 1000 + i, f"r{i}|p{i}",
         ({"account_id": "u"} if i != 2 else None),
         (f"r{i}", f"p{i}", "c", "py", "x", None))
        for i in range(4)
    ]
    batch = spark.createDataFrame(rows, envelope_schema(val_t))
    table = LakeTable.create(
        spark, str(tmp_path / "table"), key_columns=["repo", "path"], num_buckets=4
    )
    pipe = Pipeline.from_connect_config(
        {
            "transforms": "route",
            "transforms.route.type": "ModifyPartition",
            "transforms.route.header.key": "account_id",
            "transforms.route.number.partitions": "4",
        }
    )
    dlq_dir = str(tmp_path / "dlq")
    ingest = StreamingIngest(table, pipeline=pipe, dlq_dir=dlq_dir)
    ingest._apply(batch, 0)
    assert spark.read.parquet(dlq_dir).count() == 1
    # crash-replay of the committed epoch: merge skipped AND no new DLQ rows
    ingest._apply(batch, 0)
    assert ingest.epoch_stats[-1].skipped
    assert spark.read.parquet(dlq_dir).count() == 1
    # a clean epoch appends nothing (no empty part files)
    import glob

    before = set(glob.glob(dlq_dir + "/*.parquet"))
    clean = batch.filter(F.col("offset") != 2).withColumn(
        "offset", F.col("offset") + 10
    )
    ingest._apply(clean, 1)
    assert set(glob.glob(dlq_dir + "/*.parquet")) == before
    # same keys, fresher LSNs: the clean epoch upserted all three rows
    rows = {r["repo"]: r["_lsn"] for r in table.read().collect()}
    assert rows == {"r0": 10, "r1": 11, "r3": 13}
