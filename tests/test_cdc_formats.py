"""Debezium / Mongo change-stream adapters (sources/cdc_formats.py) and the
outbox event router (operators/outbox_router.py)."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.config import ConfigException
from kafka_connect_plugins_spark.operators import OutboxEventRouter
from kafka_connect_plugins_spark.sources.cdc_formats import (
    debezium_to_merge_source,
    mongo_changestream_to_merge_source,
)

ROW = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _dbz(op, before=None, after=None, lsn=None, ts=1000):
    return json.dumps(
        {
            "before": before,
            "after": after,
            "source": {"lsn": lsn, "ts_ms": ts, "db": "d", "table": "t"},
            "op": op,
            "ts_ms": ts,
        }
    )


class TestDebezium:
    def test_upsert_delete_and_lsn(self, spark):
        lines = [
            _dbz("c", after={"id": 1, "name": "a", "score": 1.5}, lsn=10),
            _dbz("u", before={"id": 1, "name": "a", "score": 1.5},
                 after={"id": 1, "name": "b", "score": 2.5}, lsn=20),
            _dbz("d", before={"id": 1, "name": "b", "score": 2.5}, lsn=30),
            _dbz("r", after={"id": 2, "name": "snap", "score": 0.0}, lsn=None, ts=40),
        ]
        df = spark.createDataFrame([(x,) for x in lines], "value string")
        out = debezium_to_merge_source(df, ROW, ["id"]).collect()
        by = {(r["id"], r["_lsn"]): r for r in out}
        assert set(by) == {(1, 10), (1, 20), (1, 30), (2, 40)}  # ts_ms fallback
        assert by[(1, 20)]["name"] == "b" and not by[(1, 20)]["_tombstone"]
        # delete keys from BEFORE image, payload nulled, tombstone set
        d = by[(1, 30)]
        assert d["_tombstone"] and d["name"] is None and d["score"] is None

    def test_malformed_and_unknown_op(self, spark):
        df = spark.createDataFrame(
            [("not json",), (_dbz("x", after={"id": 9, "name": "n", "score": 0.0}, lsn=1),)],
            "value string",
        )
        assert debezium_to_merge_source(df, ROW, ["id"]).count() == 0
        kept = debezium_to_merge_source(df, ROW, ["id"], keep_corrupt=True)
        bad = kept.filter(F.col("_corrupt_record").isNotNull()).collect()
        assert len(bad) == 2  # both lines dead-lettered with the raw text

    def test_envelope_parsed_once_in_optimized_plan(self, spark):
        # the optimizer must not inline the envelope parse into the validity
        # filter and every extracted column (_parse_env_once's rand guard);
        # a computed (non-local) JSON column keeps the projection in the plan
        env = F.struct(
            F.struct(F.col("id"), F.lit("n").alias("name"),
                     F.lit(1.0).alias("score")).alias("after"),
            F.struct(F.col("id").alias("lsn")).alias("source"),
            F.lit("c").alias("op"),
        )
        df = spark.range(3).select(F.to_json(env).alias("value"))
        out = debezium_to_merge_source(df, ROW, ["id"])
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 1, plan
        assert out.count() == 3

    def test_bad_key_column(self, spark):
        df = spark.createDataFrame([("{}",)], "value string")
        with pytest.raises(ValueError, match="key columns"):
            debezium_to_merge_source(df, ROW, ["nope"])


DOC = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("body", T.StringType()),
    ]
)


def _mongo(op, doc=None, key=None, t=1, i=0):
    return json.dumps(
        {
            "operationType": op,
            "documentKey": {"_id": key},
            "fullDocument": doc,
            "clusterTime": {"$timestamp": {"t": t, "i": i}},
        }
    )


class TestMongoChangeStream:
    def test_ops_and_packed_lsn(self, spark):
        lines = [
            _mongo("insert", doc={"_id": 1, "body": "x"}, key=1, t=5, i=1),
            _mongo("replace", doc={"_id": 1, "body": "y"}, key=1, t=5, i=2),
            _mongo("delete", key=1, t=6, i=0),
            _mongo("drop", t=7, i=0),  # non-document op: dropped
        ]
        df = spark.createDataFrame([(x,) for x in lines], "value string")
        out = mongo_changestream_to_merge_source(df, DOC).collect()
        assert len(out) == 3
        by = {r["_lsn"]: r for r in out}
        assert set(by) == {(5 << 32) + 1, (5 << 32) + 2, (6 << 32)}
        assert by[(5 << 32) + 2]["body"] == "y"
        d = by[(6 << 32)]
        assert d["_tombstone"] and d["_id"] == 1 and d["body"] is None

    def test_requires_id(self, spark):
        df = spark.createDataFrame([("{}",)], "value string")
        with pytest.raises(ValueError, match="_id"):
            mongo_changestream_to_merge_source(
                df, T.StructType([T.StructField("x", T.LongType())])
            )


OUTBOX_VALUE = T.StructType(
    [
        T.StructField("aggregatetype", T.StringType()),
        T.StructField("aggregateid", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _outbox_df(spark):
    rows = [
        ("t0", 7, {"aggregatetype": "order", "aggregateid": 1,
                   "type": "OrderCreated", "payload": "p1"}),
        ("t0", 8, {"aggregatetype": "customer", "aggregateid": 2,
                   "type": "CustomerMoved", "payload": None}),
    ]
    schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", OUTBOX_VALUE),
        ]
    )
    return spark.createDataFrame(rows, schema)


class TestOutboxRouter:
    def test_routing_defaults(self, spark):
        out = OutboxEventRouter({}).apply(_outbox_df(spark)).collect()
        by = {r["key"]: r for r in out}
        assert by["1"]["topic"] == "outbox.event.order"
        assert by["2"]["topic"] == "outbox.event.customer"
        assert by["1"]["value"] == "p1"
        assert by["2"]["value"] is None  # null payload -> tombstone
        assert by["1"]["offset"] == 7  # envelope metadata passes through

    def test_custom_template_and_fields(self, spark):
        r = OutboxEventRouter(
            {
                "route.by.field": "type",
                "route.topic.replacement": "events.${routedByValue}.v1",
                "table.field.event.key": "aggregatetype",
            }
        )
        out = {x["key"]: x["topic"] for x in r.apply(_outbox_df(spark)).collect()}
        assert out == {
            "order": "events.OrderCreated.v1",
            "customer": "events.CustomerMoved.v1",
        }

    def test_missing_field_raises_at_plan_time(self, spark):
        with pytest.raises(ConfigException, match="outbox field"):
            OutboxEventRouter({"route.by.field": "nope"}).apply(_outbox_df(spark))

    def test_connect_wire_config(self, spark):
        from kafka_connect_plugins_spark.operators import Pipeline

        pipe = Pipeline.from_connect_config(
            {
                "transforms": "outbox",
                "transforms.outbox.type": "OutboxEventRouter",
            }
        )
        assert {r["topic"] for r in pipe.apply(_outbox_df(spark)).collect()} == {
            "outbox.event.order",
            "outbox.event.customer",
        }


REPO_ROW = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def _repo_dbz(op, row=None, key=None, lsn=0):
    body = {"before": key if op == "d" else None,
            "after": row if op != "d" else None,
            "source": {"lsn": lsn, "ts_ms": lsn, "db": "d", "table": "t"},
            "op": op, "ts_ms": lsn}
    return json.dumps(body)


class TestWireTailIngest:
    def test_debezium_jsonl_tail_to_lake(self, spark, tmp_path):
        """A Debezium JSON-lines tail drains through the FULL streaming
        ingest chain (envelope lift -> SMT chain -> foreachBatch MERGE)."""
        from kafka_connect_plugins_spark.engine import create_repo_table
        from kafka_connect_plugins_spark.sources.cdc_formats import tail_wire_format
        from kafka_connect_plugins_spark.streaming.ingest import StreamingIngest

        lines = [
            _repo_dbz("c", {"repo": "r", "path": "a", "commit": "c1",
                            "lang": "py", "content": "A1"}, lsn=1),
            _repo_dbz("u", {"repo": "r", "path": "a", "commit": "c2",
                            "lang": "py", "content": "A2"}, lsn=2),
            _repo_dbz("c", {"repo": "r", "path": "b", "commit": "c1",
                            "lang": "py", "content": "B1"}, lsn=3),
            _repo_dbz("d", key={"repo": "r", "path": "b"}, lsn=4),
        ]
        log = tmp_path / "log"
        log.mkdir()
        (log / "part-0.jsonl").write_text("\n".join(lines) + "\n")
        table = create_repo_table(spark, str(tmp_path / "tbl"), num_buckets=4)
        stream = tail_wire_format(
            spark, str(log), "debezium", REPO_ROW, ["repo", "path"]
        )
        stats = StreamingIngest(table, stream_id="dbz").run_available(
            spark, str(log), str(tmp_path / "ckpt"),
            stream=stream, timeout_sec=120,
        )
        assert sum(s.source_rows for s in stats) == 4
        got = {(r["repo"], r["path"]): (r["content"], r["commit"])
               for r in table.read().collect()}
        assert got == {("r", "a"): ("A2", "c2")}  # LWW won, delete held

    def test_mongo_jsonl_tail_composite_id(self, spark, tmp_path):
        """Mongo tail keyed on a composite _id ('repo|path') lands on the
        same two-key lake table through the envelope key convention."""
        from kafka_connect_plugins_spark.engine import create_repo_table
        from kafka_connect_plugins_spark.sources.cdc_formats import tail_wire_format
        from kafka_connect_plugins_spark.streaming.ingest import StreamingIngest

        doc_type = T.StructType(
            [
                T.StructField("_id", T.StringType()),
                T.StructField("commit", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("content", T.StringType()),
            ]
        )
        lines = [
            _mongo("insert", doc={"_id": "r|a", "commit": "c1", "lang": "py",
                                  "content": "A1"}, key="r|a", t=1, i=0),
            _mongo("replace", doc={"_id": "r|a", "commit": "c2", "lang": "py",
                                   "content": "A2"}, key="r|a", t=2, i=0),
            _mongo("insert", doc={"_id": "r|b", "commit": "c1", "lang": "py",
                                  "content": "B1"}, key="r|b", t=2, i=1),
            _mongo("delete", key="r|b", t=3, i=0),
        ]
        log = tmp_path / "log"
        log.mkdir()
        (log / "part-0.jsonl").write_text("\n".join(lines) + "\n")
        table = create_repo_table(spark, str(tmp_path / "tbl"), num_buckets=4)
        stream = tail_wire_format(spark, str(log), "mongo", doc_type, [])
        StreamingIngest(table, stream_id="mng").run_available(
            spark, str(log), str(tmp_path / "ckpt"),
            stream=stream, timeout_sec=120,
        )
        got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
        assert got == {("r", "a"): "A2"}


class TestTransactionBoundaries:
    def _src(self, spark):
        # LSN-ordered tail: tx A complete (2 rows), autocommit row,
        # tx B complete (1 row), tx C incomplete at the stream tail
        rows = [
            ("k1", 1, "A"), ("k2", 2, "A"),
            ("k3", 3, None),
            ("k4", 4, "B"),
            ("k5", 5, "C"), ("k6", 6, "C"),
        ]
        return spark.createDataFrame(rows, "key string, _lsn long, _tx_id string")

    def test_tail_holdback(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            split_complete_transactions,
        )

        ready, held = split_complete_transactions(self._src(spark))
        assert {r["key"] for r in ready.collect()} == {"k1", "k2", "k3", "k4"}
        assert {r["key"] for r in held.collect()} == {"k5", "k6"}
        # watermark re-serve invariant: every held LSN > every ready LSN
        assert held.agg({"_lsn": "min"}).first()[0] > ready.agg({"_lsn": "max"}).first()[0]

    def test_tail_holdback_autocommit_tail(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            split_complete_transactions,
        )

        src = spark.createDataFrame(
            [("k1", 1, "A"), ("k2", 2, None)],
            "key string, _lsn long, _tx_id string",
        )
        ready, held = split_complete_transactions(src)
        assert ready.count() == 2 and held.count() == 0

    def test_marker_mode(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            split_complete_transactions,
        )

        markers = spark.createDataFrame(
            [("A", 2), ("B", 1), ("C", 3)], "_tx_id string, event_count int"
        )
        ready, held = split_complete_transactions(self._src(spark), markers=markers)
        # C has 2 of 3 rows -> held even though B (complete) commits later
        assert {r["key"] for r in ready.collect()} == {"k1", "k2", "k3", "k4"}
        assert {r["key"] for r in held.collect()} == {"k5", "k6"}

    def test_marker_mode_unmarked_tx_held(self, spark):
        """A tx with no END marker yet is incomplete by definition."""
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            split_complete_transactions,
        )

        markers = spark.createDataFrame([("A", 2)], "_tx_id string, event_count int")
        ready, held = split_complete_transactions(self._src(spark), markers=markers)
        assert {r["key"] for r in ready.collect()} == {"k1", "k2", "k3"}
        assert {r["key"] for r in held.collect()} == {"k4", "k5", "k6"}

    def test_debezium_with_transaction_columns(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            debezium_to_merge_source,
        )

        line = json.dumps(
            {
                "after": {"repo": "r", "path": "a", "commit": "c1",
                          "lang": "py", "content": "A"},
                "source": {"lsn": 7, "ts_ms": 7, "db": "d", "table": "t"},
                "op": "c", "ts_ms": 7,
                "transaction": {"id": "txn-9", "total_order": 3,
                                "data_collection_order": 1},
            }
        )
        df = spark.createDataFrame([(line,)], "value string")
        out = debezium_to_merge_source(
            df, REPO_ROW, ["repo", "path"], with_transaction=True
        ).first()
        assert out["_tx_id"] == "txn-9" and out["_tx_order"] == 3
        # without the flag the columns stay absent (back-compat)
        cols = debezium_to_merge_source(df, REPO_ROW, ["repo", "path"]).columns
        assert "_tx_id" not in cols
