from kafka_connect_plugins_spark.streaming.ingest import (
    CHANGELOG_VALUE_TYPE,
    StreamingIngest,
    tail_changelog,
)
from kafka_connect_plugins_spark.streaming.metrics import MetricsLog

__all__ = [
    "CHANGELOG_VALUE_TYPE",
    "StreamingIngest",
    "tail_changelog",
    "MetricsLog",
]
