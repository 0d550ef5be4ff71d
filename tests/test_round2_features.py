"""Round-2 features: struct record keys, parent-struct defaults, the
transform-stage dead-letter route, and the Kafka value:binary seam.

Reference parity targets:
- UnquoteRecordKeyTest.kt:76-90 — non-String (Int / Struct) keys pass
  through unchanged.
- RedShiftComplexDataTypeTransformer.kt:206-208 — ``topic_key`` stringifies
  an arbitrary key.
- RedShiftComplexDataTypeTransformer.kt:91-98 + fixture
  employee-data.employees-value-v1.avsc:258-261 — a missing leaf's default
  resolves from the ENCLOSING struct's default value.
- RedShiftComplexDataTypeTransformer.kt:47-55 / JsonToHexTransformer.kt:63-71
  — per-record failure wrapping, expressed here as Connect's
  ``errors.tolerance=all`` dead-letter queue.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.envelope import envelope_schema
from kafka_connect_plugins_spark.functions.flatten import flatten_columns
from kafka_connect_plugins_spark.operators import Pipeline
from kafka_connect_plugins_spark.operators.redshift_flatten import RedshiftFlatten
from kafka_connect_plugins_spark.operators.unquote_record_key import UnquoteRecordKey
from kafka_connect_plugins_spark.sources.json_envelope import parse_json_envelope

VAL_T = T.StructType(
    [
        T.StructField(
            "body",
            T.StructType(
                [
                    T.StructField("email", T.StringType()),
                    T.StructField("deleted_at", T.LongType()),
                ]
            ),
        )
    ]
)

KEY_T = T.StructType(
    [T.StructField("tenant", T.StringType()), T.StructField("id", T.LongType())]
)


def _struct_key_df(spark):
    schema = envelope_schema(VAL_T, key_type=KEY_T)
    rows = [
        ("t", 0, 1, 1000, ("acme", 7), {"account_id": "a"}, (("x@y.z", None),)),
        ("t", 0, 2, 1001, ("umbrella", 9), {"account_id": "b"}, (("q@r.s", None),)),
    ]
    return spark.createDataFrame(rows, schema)


class TestStructKeys:
    def test_unquote_passes_struct_key_unchanged(self, spark):
        # UnquoteRecordKey.kt:21-24: only String keys are modified.
        df = _struct_key_df(spark)
        out = UnquoteRecordKey().apply(df)
        assert out.schema["key"].dataType == KEY_T
        assert [r["key"] for r in out.orderBy("offset").collect()] == [
            r["key"] for r in df.orderBy("offset").collect()
        ]

    def test_unquote_passes_int_key_unchanged(self, spark):
        # UnquoteRecordKeyTest.kt:76-82 (Int key passthrough).
        df = spark.createDataFrame([(1, 42), (2, 7)], "offset long, key int")
        out = UnquoteRecordKey().apply(df)
        assert [r["key"] for r in out.orderBy("offset").collect()] == [42, 7]

    def test_redshift_flatten_stringifies_struct_key(self, spark):
        # RedShiftComplexDataTypeTransformer.kt:206-208: any key -> topic_key.
        df = _struct_key_df(spark)
        out = RedshiftFlatten().apply(df).orderBy("_kafka_metadata_offset")
        keys = [r["topic_key"] for r in out.collect()]
        assert keys == ['{"tenant":"acme","id":7}', '{"tenant":"umbrella","id":9}']


class TestParentStructDefaults:
    def test_leaf_default_resolves_from_parent_struct_default(self, spark):
        # employees-value-v1.avsc:258-261: metadata has default
        # {"service": "Default-Service"}; the leaf itself carries none.
        vt = T.StructType(
            [
                T.StructField(
                    "metadata",
                    T.StructType([T.StructField("service", T.StringType())]),
                    True,
                    {"default": {"service": "Default-Service"}},
                )
            ]
        )
        env = T.StructType([T.StructField("value", vt)])
        df = spark.createDataFrame([(((None,),),), ((None,),), ((("svc-a",),),)], env)
        out = df.select(*flatten_columns(vt, mode="redshift"))
        got = sorted(r["metadata_service"] for r in out.collect())
        assert got == ["Default-Service", "Default-Service", "svc-a"]

    def test_leaf_metadata_default_still_wins(self, spark):
        vt = T.StructType(
            [
                T.StructField(
                    "metadata",
                    T.StructType(
                        [T.StructField("service", T.StringType(), True, {"default": "leaf-wins"})]
                    ),
                    True,
                    {"default": {"service": "parent-loses"}},
                )
            ]
        )
        env = T.StructType([T.StructField("value", vt)])
        df = spark.createDataFrame([((None,),)], env)
        out = df.select(*flatten_columns(vt, mode="redshift"))
        assert out.first()["metadata_service"] == "leaf-wins"


class TestDeadLetterQueue:
    def _df(self, spark):
        schema = envelope_schema(VAL_T)
        rows = [
            ("t", 0, 1, 1000, "k1", {"account_id": "a"}, (("x@y.z", None),)),
            ("t", 0, 2, 1001, "k2", None, (("p@q.r", None),)),  # headers missing
            ("t", 0, 3, 1002, "k3", {"other": "z"}, (("m@n.o", None),)),  # key missing
        ]
        return spark.createDataFrame(rows, schema)

    def _pipe(self):
        return Pipeline.from_connect_config(
            {
                "transforms": "route,unquote",
                "transforms.route.type": "ModifyPartition",
                "transforms.route.header.key": "account_id",
                "transforms.route.number.partitions": "10",
                "transforms.unquote.type": "UnquoteRecordKey",
            }
        )

    def test_poisoned_rows_divert_and_job_survives(self, spark):
        good, dlq = self._pipe().apply_with_dlq(self._df(spark))
        assert [r["offset"] for r in good.orderBy("offset").collect()] == [1]
        bad = dlq.orderBy("offset").collect()
        assert [r["offset"] for r in bad] == [2, 3]
        assert {r["_dlq_stage"] for r in bad} == {"ModifyPartition"}

    def test_strict_apply_still_raises(self, spark):
        with pytest.raises(Exception, match="is missing for offset"):
            self._pipe().apply(self._df(spark)).collect()

    def test_clean_batch_empty_dlq(self, spark):
        df = self._df(spark).filter(F.col("offset") == 1)
        good, dlq = self._pipe().apply_with_dlq(df)
        assert good.count() == 1
        assert dlq.count() == 0
        assert "_dlq_stage" in dlq.columns


class TestKafkaSeam:
    def test_binary_value_column_contract(self, spark):
        """The exact shape format("kafka") yields: value: binary (+ topic,
        partition, offset, timestamp) — parse_json_envelope must accept it
        without a caller-side cast (sources/json_envelope.py documents the
        swap; no broker needed to pin the interface)."""
        kafka_schema = T.StructType(
            [
                T.StructField("key", T.BinaryType()),
                T.StructField("value", T.BinaryType()),
                T.StructField("topic", T.StringType()),
                T.StructField("partition", T.IntegerType()),
                T.StructField("offset", T.LongType()),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("timestampType", T.IntegerType()),
            ]
        )
        payload = (
            b'{"topic":"t","partition":0,"offset":5,"timestamp":99,"key":"k",'
            b'"headers":{},"value":{"body":{"email":"x@y.z","deleted_at":null}}}'
        )
        import datetime

        ts = datetime.datetime(2026, 1, 1)
        rows = [
            (b"k", payload, "t", 0, 5, ts, 0),
            (b"k", b"\x00\x01 not json", "t", 0, 6, ts, 0),
        ]
        raw = spark.createDataFrame(rows, kafka_schema)
        out = parse_json_envelope(raw.select("value"), VAL_T)
        got = out.collect()
        assert len(got) == 1
        assert got[0]["offset"] == 5
        assert got[0]["value"]["body"]["email"] == "x@y.z"
        # dead-letter variant keeps the corrupt original
        dl = parse_json_envelope(raw.select("value"), VAL_T, keep_corrupt=True)
        assert dl.count() == 2
        assert dl.filter(F.col("_corrupt_record").isNotNull()).count() == 1


class TestStreamingDlq:
    def test_streaming_ingest_writes_dead_letters(self, spark, tmp_path):
        """Poisoned microbatch -> clean rows merged, bad rows in the DLQ dir,
        query survives (Connect errors.tolerance=all, deadletterqueue.*)."""
        import pyspark.sql.functions as F

        from kafka_connect_plugins_spark.envelope import envelope_schema
        from kafka_connect_plugins_spark.plans.lake_table import LakeTable
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
        schema = envelope_schema(val_t)
        rows = [
            ("t", 0, i, 1000 + i, f"r{i}|p{i}", ({"account_id": "u"} if i != 2 else None),
             (f"r{i}", f"p{i}", "c", "py", "x", None))
            for i in range(4)
        ]
        events_dir = str(tmp_path / "events")
        spark.createDataFrame(rows, schema).write.parquet(events_dir)

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
        stats = ingest.run_available(
            spark, events_dir, str(tmp_path / "ckpt"), value_type=val_t, timeout_sec=120
        )
        assert sum(s.source_rows for s in stats) == 3  # bad row diverted
        assert table.read().count() == 3
        dlq = spark.read.parquet(dlq_dir)
        assert dlq.count() == 1
        r = dlq.first()
        assert r["offset"] == 2 and r["_dlq_stage"] == "ModifyPartition"
        assert "_dlq_epoch" in dlq.columns
