"""Operator library: the reference's eight SMTs plus the engine-native
stages (LWW dedup, field redaction, outbox routing) that
run between a change-event source and the lake-table MERGE."""

from kafka_connect_plugins_spark.operators.base import Pipeline, Stage, registry, stage
from kafka_connect_plugins_spark.operators.clickhouse_flatten import ClickHouseFlatten
from kafka_connect_plugins_spark.operators.json_to_hex import JsonToHex
from kafka_connect_plugins_spark.operators.lww_dedup import LwwDedup
from kafka_connect_plugins_spark.operators.modify_partition import ModifyPartition
from kafka_connect_plugins_spark.operators.outbox_router import OutboxEventRouter
from kafka_connect_plugins_spark.operators.redact import RedactFields
from kafka_connect_plugins_spark.operators.redshift_flatten import RedshiftFlatten
from kafka_connect_plugins_spark.operators.slack_payload import SlackPayloadUnify
from kafka_connect_plugins_spark.operators.soft_delete_to_tombstone import SoftDeleteToTombstone
from kafka_connect_plugins_spark.operators.unquote_record_key import UnquoteRecordKey

__all__ = [
    "Pipeline",
    "Stage",
    "registry",
    "stage",
    "ClickHouseFlatten",
    "JsonToHex",
    "LwwDedup",
    "ModifyPartition",
    "OutboxEventRouter",
    "RedactFields",
    "RedshiftFlatten",
    "SlackPayloadUnify",
    "SoftDeleteToTombstone",
    "UnquoteRecordKey",
]
