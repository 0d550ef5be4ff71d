"""Physical plans: the lake-table sink (MERGE upsert, snapshots, evolution)."""

from kafka_connect_plugins_spark.plans.lake_table import LakeTable, MergeStats
from kafka_connect_plugins_spark.plans.replication import (
    ensure_replica,
    replicate,
)

__all__ = [
    "LakeTable",
    "MergeStats",
    "ensure_replica",
    "replicate",
]
