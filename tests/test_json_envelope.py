"""JSON envelope ingestion (the Connect JsonConverter seam)."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.sources.json_envelope import (
    parse_json_envelope,
    read_json_envelope,
)

VALUE_T = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("deleted_at", T.LongType()),
    ]
)


def _env(offset, repo="r1", content="c", deleted_at=None, key="r1|a"):
    return json.dumps(
        {
            "topic": "t",
            "partition": 0,
            "offset": offset,
            "timestamp": 1000 + offset,
            "key": key,
            "headers": {"account_id": repo},
            "value": {"repo": repo, "content": content, "deleted_at": deleted_at},
        }
    )


def test_parse_json_envelope_typed_roundtrip(spark):
    raw = spark.createDataFrame([(_env(1),), (_env(2, content="x"),)], "value string")
    out = parse_json_envelope(raw, VALUE_T)
    rows = {r.offset: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].topic == "t"
    assert rows[1].headers["account_id"] == "r1"
    assert rows[2].value.content == "x"
    assert [f.name for f in out.schema.fields] == [
        "topic", "partition", "offset", "timestamp", "key", "headers", "value",
    ]


def test_parse_drops_malformed_by_default(spark):
    raw = spark.createDataFrame([(_env(1),), ("{nope",), ("",)], "value string")
    assert parse_json_envelope(raw, VALUE_T).count() == 1


def test_parse_keep_corrupt_dead_letter(spark):
    raw = spark.createDataFrame([(_env(1),), ("{nope",)], "value string")
    out = parse_json_envelope(raw, VALUE_T, keep_corrupt=True)
    dead = out.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(dead) == 1 and dead[0]._corrupt_record == "{nope"
    assert out.count() == 2


def test_read_json_envelope_file_and_merge(spark, tmp_path):
    """JSON-lines log → parse → the standard merge source flows end-to-end."""
    log = tmp_path / "log"
    log.mkdir()
    lines = [_env(i, repo=f"r{i % 2}", key=f"r{i % 2}|a", content=f"c{i}") for i in range(6)]
    (log / "part-0.json").write_text("\n".join(lines))
    df = read_json_envelope(spark, str(log), VALUE_T)
    assert df.count() == 6
    # last writer per key wins on offset
    last = (
        df.groupBy("key")
        .agg(F.max_by(F.col("value.content"), F.col("offset")).alias("content"))
        .collect()
    )
    assert {r.key: r.content for r in last} == {"r0|a": "c4", "r1|a": "c5"}


def test_dead_letter_rows_carry_no_data_and_parse_once(spark):
    """A line without ``topic`` is a dead letter like an unparseable one:
    only ``_corrupt_record`` is set, so no phantom row keeps its offset,
    key or value. A value-NULL tombstone stays a valid row. Each line is
    parsed by one ``from_json``."""
    no_topic = json.dumps(
        {"partition": 0, "offset": 7, "key": "k7", "value": {"repo": "x"}}
    )
    tombstone = json.dumps({"topic": "t", "partition": 0, "offset": 8, "key": "r1|a"})
    raw = spark.createDataFrame(
        [(_env(1),), (no_topic,), (tombstone,), ("{nope",)], "value string"
    )
    out = parse_json_envelope(raw, VALUE_T, keep_corrupt=True)
    dead = out.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert sorted(r._corrupt_record for r in dead) == sorted([no_topic, "{nope"])
    for r in dead:
        assert all(r[c] is None for c in out.columns if c != "_corrupt_record"), r
    kept = parse_json_envelope(raw, VALUE_T)
    assert sorted((r.offset, r.value is None) for r in kept.collect()) == [
        (1, False), (8, True),
    ]
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1, plan
