"""Connect-style declarative pipeline config (README.md:26-31 wire format)."""

import pytest
from pyspark.sql import types as T

from kafka_connect_plugins_spark.config import ConfigException
from kafka_connect_plugins_spark.operators import Pipeline, registry, stage
from tests.helpers import make_envelope_df

VALUE_T = T.StructType(
    [
        T.StructField(
            "body",
            T.StructType(
                [T.StructField("deleted_at", T.LongType()), T.StructField("name", T.StringType())]
            ),
        )
    ]
)


def test_chain_from_connect_config(spark):
    pipe = Pipeline.from_connect_config(
        {
            "transforms": "unquote, tombstone",
            "transforms.unquote.type": "com.example.UnquoteRecordKey",  # FQCN tail resolution
            "transforms.tombstone.type": "SoftDeleteToTombstone",
            "transforms.tombstone.field": "body.deleted_at",
        }
    )
    df = make_envelope_df(
        spark,
        VALUE_T,
        [
            {"key": '"q-key"', "value": {"body": {"deleted_at": 1, "name": "gone"}}},
            {"key": "plain", "value": {"body": {"deleted_at": None, "name": "alive"}}},
        ],
    )
    rows = {r["key"]: r for r in pipe.apply(df).collect()}
    assert rows["q-key"]["value"] is None  # unquoted then tombstoned
    assert rows["plain"]["value"]["body"]["name"] == "alive"


def test_unknown_stage_and_missing_type():
    with pytest.raises(ConfigException):
        stage("NoSuchStage")
    with pytest.raises(ConfigException):
        Pipeline.from_connect_config({"transforms": "x"})


def test_registry_has_all_reference_operators():
    names = set(registry())
    assert {
        "ModifyPartition",
        "UnquoteRecordKey",
        "SoftDeleteToTombstone",
        "RedshiftFlatten",
        "ClickHouseFlatten",
        "SlackPayloadUnify",
        "JsonToHex",
        "LwwDedup",
    } <= names


def test_unknown_config_key_rejected():
    with pytest.raises(ConfigException):
        stage("UnquoteRecordKey", {"bogus": "x"})
