"""Second round-5 review battery: replication ledger ids keyed on the full
source path, and the wire adapters' dead-letter contract (invalid rows
expose ONLY ``_corrupt_record``)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T


class TestReplicationStreamIdPath:
    def test_same_basename_different_parent_distinct_ids(self, spark, tmp_path):
        from kafka_connect_plugins_spark.plans.lake_table import LakeTable
        from kafka_connect_plugins_spark.plans.replication import (
            replication_stream_id,
        )

        a = LakeTable.create(
            spark, str(tmp_path / "region1" / "orders"),
            key_columns=["repo", "path"], num_buckets=2,
        )
        b = LakeTable.create(
            spark, str(tmp_path / "region2" / "orders"),
            key_columns=["repo", "path"], num_buckets=2,
        )
        ia, ib = replication_stream_id(a), replication_stream_id(b)
        assert ia != ib  # one replica fed by both must keep two ledgers
        assert replication_stream_id(a) == ia  # stable across calls


ROW_T = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("content", T.StringType()),
])


class TestDeadLetterContract:
    def test_debezium_unknown_op_nulls_everything_but_corrupt(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            debezium_to_merge_source,
        )

        good = json.dumps({
            "op": "c", "ts_ms": 5,
            "after": {"repo": "r", "path": "p", "content": "x"},
            "source": {"lsn": 9},
        })
        truncate = json.dumps({"op": "t", "ts_ms": 7, "source": {"lsn": 11}})
        df = spark.createDataFrame([(good,), (truncate,)], "value string")
        out = debezium_to_merge_source(
            df, ROW_T, ["repo", "path"], keep_corrupt=True
        ).collect()
        by_corrupt = {r["_corrupt_record"] is not None: r for r in out}
        bad, ok = by_corrupt[True], by_corrupt[False]
        # a consumer that merges without filtering must not see a phantom
        # live row at a real LSN
        assert bad["_lsn"] is None and bad["_tombstone"] is None
        assert bad["repo"] is None and bad["content"] is None
        assert bad["_corrupt_record"] == truncate
        assert ok["_lsn"] == 9 and ok["_tombstone"] is False
        assert ok["repo"] == "r" and ok["_corrupt_record"] is None

    def test_debezium_drop_mode_still_filters(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            debezium_to_merge_source,
        )

        truncate = json.dumps({"op": "t", "ts_ms": 7})
        df = spark.createDataFrame([(truncate,)], "value string")
        assert (
            debezium_to_merge_source(df, ROW_T, ["repo", "path"]).count() == 0
        )

    def test_mongo_drop_nulls_everything_but_corrupt(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            mongo_changestream_to_merge_source,
        )

        doc_t = T.StructType([
            T.StructField("_id", T.StringType()),
            T.StructField("content", T.StringType()),
        ])
        good = json.dumps({
            "operationType": "insert",
            "clusterTime": {"$timestamp": {"t": 1, "i": 2}},
            "fullDocument": {"_id": "a", "content": "x"},
        })
        drop = json.dumps({
            "operationType": "drop",
            "clusterTime": {"$timestamp": {"t": 3, "i": 4}},
        })
        df = spark.createDataFrame([(good,), (drop,)], "value string")
        out = mongo_changestream_to_merge_source(
            df, doc_t, keep_corrupt=True
        ).collect()
        by_corrupt = {r["_corrupt_record"] is not None: r for r in out}
        bad, ok = by_corrupt[True], by_corrupt[False]
        assert bad["_lsn"] is None and bad["_tombstone"] is None
        assert bad["_id"] is None
        assert ok["_lsn"] == (1 << 32) + 2 and ok["_id"] == "a"


class TestOutboxPlaceholderEveryOccurrence:
    def test_replacement_substitutes_all(self, spark):
        from pyspark.sql import types as TT
        from kafka_connect_plugins_spark.operators.outbox_router import (
            OutboxEventRouter,
        )

        df = spark.createDataFrame(
            [((("order", "42", '{"x":1}'),))],
            TT.StructType([TT.StructField("value", TT.StructType([
                TT.StructField("aggregatetype", TT.StringType()),
                TT.StructField("aggregateid", TT.StringType()),
                TT.StructField("payload", TT.StringType()),
            ]))]),
        )
        r = OutboxEventRouter({
            "route.topic.replacement":
                "${routedByValue}.events.${routedByValue}",
        }).apply(df).collect()[0]
        # Debezium's EventRouter substitutes EVERY occurrence; pre-fix the
        # second stayed as the literal placeholder text
        assert r["topic"] == "order.events.order"
