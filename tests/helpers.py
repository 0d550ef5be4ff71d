"""Test helpers: envelope construction mirroring the reference's SinkRecord fixtures."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_connect_plugins_spark.envelope import envelope_schema


def make_envelope_df(
    spark: SparkSession,
    value_type: T.DataType,
    rows: list[dict[str, Any]],
    topic: str = "test-topic",
) -> DataFrame:
    """Build an envelope DataFrame from sparse row dicts.

    Mirrors the reference tests' SinkRecord construction
    (RedShiftComplexDataTypeTransformerTest.kt:62-70).
    """
    full = []
    for i, row in enumerate(rows):
        full.append(
            {
                "topic": row.get("topic", topic),
                "partition": row.get("partition", 0),
                "offset": row.get("offset", i),
                "timestamp": row.get("timestamp", 1_637_000_000_000 + i),
                "key": row.get("key"),
                "headers": row.get("headers"),
                "value": row.get("value"),
            }
        )
    return spark.createDataFrame(full, envelope_schema(value_type))


def spark_jobs(spark: SparkSession, fn) -> int:
    """The number of Spark jobs ``fn()`` runs, counted through a job group
    of its own."""
    sc = spark.sparkContext
    group = f"jobs-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
