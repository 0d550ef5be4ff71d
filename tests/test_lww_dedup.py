"""LWW dedup picks max-(lsn, tiebreak) per key."""

import pytest
from pyspark.sql import types as T

from kafka_connect_plugins_spark.config import ConfigException
from kafka_connect_plugins_spark.operators import LwwDedup
from tests.helpers import make_envelope_df

VALUE_T = T.StructType([T.StructField("content", T.StringType())])

ROWS = [
    {"key": "a", "offset": 1, "value": {"content": "a-old"}},
    {"key": "a", "offset": 9, "value": {"content": "a-new"}},
    {"key": "a", "offset": 5, "value": {"content": "a-mid"}},
    {"key": "b", "offset": 2, "value": {"content": "b-only"}},
    {"key": "c", "offset": 3, "value": {"content": "c-old"}},
    {"key": "c", "offset": 3, "value": {"content": "c-old"}},  # exact duplicate
]


def test_keeps_max_lsn_per_key(spark):
    df = make_envelope_df(spark, VALUE_T, ROWS)
    op = LwwDedup({"key.columns": "key", "lsn.column": "offset"})
    got = {r["key"]: (r["offset"], r["value"]["content"]) for r in op.apply(df).collect()}
    assert got == {"a": (9, "a-new"), "b": (2, "b-only"), "c": (3, "c-old")}


def test_tiebreak_deterministic(spark):
    rows = [
        {"key": "k", "offset": 7, "timestamp": 100, "value": {"content": "first"}},
        {"key": "k", "offset": 7, "timestamp": 200, "value": {"content": "second"}},
    ]
    df = make_envelope_df(spark, VALUE_T, rows)
    op = LwwDedup(
        {"key.columns": "key", "lsn.column": "offset", "tiebreak.column": "timestamp"}
    )
    assert op.apply(df).first()["value"]["content"] == "second"


def test_random_input_matches_python_oracle(spark):
    import random

    rng = random.Random(42)
    rows = [
        {"key": f"k{rng.randrange(20)}", "offset": i, "value": {"content": f"c{i}"}}
        for i in range(500)
    ]
    oracle: dict[str, int] = {}
    for r in rows:
        oracle[r["key"]] = max(oracle.get(r["key"], -1), r["offset"])
    df = make_envelope_df(spark, VALUE_T, rows)
    out = LwwDedup({"key.columns": "key", "lsn.column": "offset"}).apply(df)
    got = {r["key"]: (r["offset"], r["value"]["content"]) for r in out.collect()}
    assert got == {k: (o, f"c{o}") for k, o in oracle.items()}


def test_strategy_key_is_rejected():
    assert [k.name for k in LwwDedup.config_def.keys] == [
        "key.columns", "lsn.column", "tiebreak.column",
    ]
    with pytest.raises(ConfigException, match="strategy"):
        LwwDedup({"key.columns": "k", "strategy": "window"})
