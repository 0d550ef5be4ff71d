"""Outbox event router — the transactional-outbox SMT (Debezium
``EventRouter`` semantics, a published Kafka Connect transform).

The outbox pattern writes domain events into an ``outbox`` table in the
same transaction as the state change; CDC tails that table and a router
re-addresses each event to its aggregate's topic. The reference's SMT
family sits at exactly this seam (header/partition re-addressing,
ModifyPartition.kt:29-44); this stage is the topic-level counterpart:

- ``topic``   → ``route.topic.replacement`` with ``${routedByValue}``
  substituted by the row's ``route.by.field`` value,
- ``key``     → the ``table.field.event.key`` field (stringified),
- ``value``   → the ``table.field.event.payload`` field, passed through
  with its own type (string payloads stay strings, struct payloads stay
  structs),
- a null payload row becomes a tombstone on the routed topic (delete
  propagation), matching the engine's tombstone contract.

Pure plan transformation, one projection, no shuffle: routing is a value
computation, not a repartition — partition assignment stays with
:class:`ModifyPartition` downstream.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.config import ConfigDef, ConfigException
from kafka_connect_plugins_spark.functions.paths import (
    dot_path_col,
    dot_path_exists,
    dot_path_type,
)
from kafka_connect_plugins_spark.functions.strings import stringify_any
from kafka_connect_plugins_spark.operators.base import Stage

PLACEHOLDER = "${routedByValue}"


class OutboxEventRouter(Stage):
    config_def = (
        ConfigDef()
        .define("route.by.field", str, "outbox field that picks the destination",
                default="aggregatetype")
        .define("route.topic.replacement", str,
                f"destination topic; {PLACEHOLDER} expands to the route-by value",
                default=f"outbox.event.{PLACEHOLDER}")
        .define("table.field.event.key", str, "outbox field carrying the event key",
                default="aggregateid")
        .define("table.field.event.payload", str,
                "outbox field carrying the event payload", default="payload")
        .define("value.column", str, "column holding the outbox row", default="value")
    )

    def configure(self, config: dict[str, Any]) -> None:
        self.route_by = config["route.by.field"]
        self.replacement = config["route.topic.replacement"]
        self.key_field = config["table.field.event.key"]
        self.payload_field = config["table.field.event.payload"]
        self.value_column = config["value.column"]

    def _field(self, df: DataFrame, name: str):
        if not dot_path_exists(df, self.value_column, name):
            raise ConfigException(
                f"outbox field {name!r} not found under column "
                f"{self.value_column!r}"
            )
        return dot_path_col(self.value_column, name)

    def _field_type(self, df: DataFrame, name: str):
        # same walk as the exists-check in _field (one implementation,
        # functions/paths.py) — _field always validated first, so non-None
        return dot_path_type(df, self.value_column, name)

    def apply(self, df: DataFrame) -> DataFrame:
        routed_by = stringify_any(
            self._field(df, self.route_by), self._field_type(df, self.route_by)
        )
        # ${routedByValue} substitution without regex-escaping surprises:
        # split the literal template on the placeholder and interleave the
        # routed value between ALL segments — Debezium's EventRouter
        # substitutes every occurrence, not just the first
        segments = self.replacement.split(PLACEHOLDER)
        if len(segments) == 1:
            topic = F.lit(self.replacement)
        else:
            value = F.coalesce(routed_by, F.lit("null"))
            parts: list = [F.lit(segments[0])]
            for seg in segments[1:]:
                parts += [value, F.lit(seg)]
            topic = F.concat(*parts)
        key = stringify_any(
            self._field(df, self.key_field), self._field_type(df, self.key_field)
        )
        payload = self._field(df, self.payload_field)
        out = [
            topic.alias("topic"),
            key.alias("key"),
            payload.alias("value"),
        ]
        # exclude every OUTPUT name, not just the configured source column:
        # with value.column != "value", an existing "value" column would
        # otherwise duplicate the routed payload's alias (ambiguous column)
        passthrough = [
            c
            for c in df.columns
            if c not in ("topic", "key", "value", self.value_column)
        ]
        return df.select(*out, *[F.col(c) for c in passthrough])
