"""Last-writer-wins dedup on a monotonic commit-LSN.

The reference has no multi-row operators — its duplicate/out-of-order story
is downstream upsert-by-key idempotence (JDBC upsert, ClickHouse
ReplacingMergeTree implied by the ``is_deleted`` design,
ClickHouseFlattenTransformer.kt:46-57) keyed on the SinkRecord's monotonic
``kafkaOffset`` (JsonToHexTransformer.kt:116). Our engine makes it explicit:
within any batch, keep only the event with the greatest (lsn, tiebreak) per
key. Ties on equal LSN break deterministically on the tiebreak column.

The winner step is :func:`~kafka_connect_plugins_spark.functions.lww.latest_per_key`,
the one the lake table's merge uses: a ``max_by`` aggregate whose map-side
partial phase pre-collapses each input partition's duplicates before the
shuffle, so heavy per-key update rates move a small fraction of the input.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.config import ConfigDef, ConfigException
from kafka_connect_plugins_spark.functions.lww import latest_per_key
from kafka_connect_plugins_spark.operators.base import Stage


class LwwDedup(Stage):
    config_def = (
        ConfigDef()
        .define("key.columns", str, "comma-separated dedup key columns")
        .define("lsn.column", str, "monotonic log sequence number", default="offset")
        .define("tiebreak.column", str, "deterministic tiebreak on equal LSN", default="")
    )

    def configure(self, config: dict[str, Any]) -> None:
        self.keys = [c.strip() for c in config["key.columns"].split(",") if c.strip()]
        if not self.keys:
            raise ConfigException("key.columns must name at least one column")
        self.lsn = config["lsn.column"]
        self.tiebreak = config["tiebreak.column"] or None

    def apply(self, df: DataFrame) -> DataFrame:
        # The tiebreak is a column of any orderable type, so it cannot be
        # packed into the LSN: only then is the ordering a struct.
        order = (
            F.struct(F.col(self.lsn), F.col(self.tiebreak))
            if self.tiebreak
            else F.col(self.lsn)
        )
        return latest_per_key(df, self.keys, order)
