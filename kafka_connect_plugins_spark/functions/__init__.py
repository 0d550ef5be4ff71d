"""Column-level building blocks shared by the operator library."""

from kafka_connect_plugins_spark.functions.hashing import crc32_pmod
from kafka_connect_plugins_spark.functions.strings import hex_of_utf8, unquote_both_ends
from kafka_connect_plugins_spark.functions.paths import dot_path_col, dot_path_exists

__all__ = [
    "crc32_pmod",
    "hex_of_utf8",
    "unquote_both_ends",
    "dot_path_col",
    "dot_path_exists",
]
