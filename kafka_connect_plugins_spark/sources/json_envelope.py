"""JSON change-event ingestion — the Connect ``JsonConverter`` analogue.

In Kafka Connect the converter sits between the transport and the SMT chain,
deserializing bytes into ``SchemaAndValue`` (reference README.md:26-31 wires
``value.converter`` next to ``transforms``; JsonToHexTransformer.kt:94-98 is
the schemaless-JSON path). Here the same seam is a plan stage: a raw string
column (a Kafka ``value``, a JSON-lines file) parses into the typed envelope
via ``from_json`` — schema applied once at plan time, parsing vectorized in
the JVM, malformed rows surfaced explicitly rather than killing the task.

Works for both batch (``spark.read``) and streaming (``spark.readStream``)
inputs; the downstream chain is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.envelope import (
    HEADER_LIST_COL,
    envelope_schema,
    header_list_to_map,
)

CORRUPT_COL = "_corrupt_record"


def _dead_letter_select(
    parsed: DataFrame,
    cols: list,
    valid,
    json_col: str,
    keep_corrupt: bool,
) -> DataFrame:
    """The one dead-letter contract of every JSON parser in ``sources``.

    Valid rows keep their parsed columns and a null ``_corrupt_record``;
    INVALID rows (an unparseable line, an envelope without ``topic``, a
    Debezium ``t``/``m`` or Mongo ``drop``/``invalidate`` op) expose ONLY
    ``_corrupt_record``: every data column, the LSN, and the tombstone
    flag are nulled, so a consumer that merges the output without
    filtering on ``_corrupt_record`` cannot upsert a phantom row at a
    real LSN. With ``keep_corrupt=False`` invalid rows are dropped."""
    ok = F.coalesce(valid, F.lit(False))
    if not keep_corrupt:
        return parsed.filter(ok).select(*cols)
    out = parsed.select(
        *cols,
        ok.alias("__ok"),
        F.when(~ok, F.col(json_col).cast("string")).alias(CORRUPT_COL),
    )
    data = [
        F.when(F.col("__ok"), F.col(n)).alias(n)
        for n in out.columns
        if n not in ("__ok", CORRUPT_COL)
    ]
    return out.select(*data, CORRUPT_COL)


def _parse_env_once(df: DataFrame, json_col: str, env: T.StructType) -> DataFrame:
    """Attach ``__env`` = parsed envelope, evaluated exactly once per row.

    A bare ``from_json(...)`` alias is inlined by CollapseProject into the
    validity filter and every extracted column, and per-column JSON schema
    pruning then specializes each copy into a *distinct* expression that
    codegen subexpression elimination cannot share — the envelope ends up
    parsed (and, when ``json_col`` is itself computed, e.g. a ``to_json``
    render in a test fixture, re-rendered) several times per row. Wrapping
    the parse in a nondeterministic no-op guard (``spark_partition_id() >=
    0`` is always true, so the value is unchanged and deterministic) pins it
    to a single Project node: the optimizer may not duplicate, push past, or
    collapse nondeterministic expressions, so the filter and all extracted
    columns reference the one computed struct. Measured on a 1M-row
    rendered tail: 3 full render+parse evaluations -> 1 (8.6 s -> 3.1 s).
    The guard must be one no rule can fold: the earlier ``rand(7) >= -1``
    is rewritten to ``true`` by Spark 4's ``OptimizeRand``, after which the
    validity filter was pushed below the parse with its own pruned copy.
    """
    return df.withColumn(
        "__env",
        F.when(
            F.spark_partition_id() >= F.lit(0),
            F.from_json(F.col(json_col).cast("string"), env),
        ),
    )


def parse_json_envelope(
    df: DataFrame,
    value_type: T.DataType,
    json_col: str = "value",
    keep_corrupt: bool = False,
    header_list: bool = False,
) -> DataFrame:
    """Parse a raw-JSON string column into typed envelope columns.

    The Kafka path: ``spark.readStream.format("kafka")`` yields
    ``value: binary`` — cast to string and hand it here. ``from_json`` in
    PERMISSIVE mode nulls out unparseable rows; with ``keep_corrupt`` the
    original string is retained in ``_corrupt_record`` for a dead-letter
    sink (every other column of that row NULL, see
    :func:`_dead_letter_select`), otherwise malformed rows are dropped (the
    converter's ``errors.tolerance=all`` vs ``none`` knob).

    ``header_list=True`` parses and retains the ``headers_list``
    (``array<struct<key,value>>``) envelope column — the full ordered header
    multi-map, duplicate keys preserved in order. When a line carries the
    list but no map, the map column is derived from it (last-wins), so
    downstream map readers keep working; header-aware stages prefer the list
    via :func:`kafka_connect_plugins_spark.envelope.header_column`.
    """
    schema = envelope_schema(value_type, header_list=header_list)
    parsed = _parse_env_once(df, json_col, schema)
    names = schema.fieldNames()
    cols = [F.col(f"__env.{n}").alias(n) for n in names]
    if header_list:
        cols[names.index("headers")] = F.coalesce(
            F.col("__env.headers"),
            header_list_to_map(F.col(f"__env.{HEADER_LIST_COL}")),
        ).alias("headers")
    # A malformed line parses to an all-null struct (PERMISSIVE mode never
    # raises); topic is non-null in every real envelope, so it is the
    # validity sentinel.
    valid = F.col("__env.topic").isNotNull()
    return _dead_letter_select(parsed, cols, valid, json_col, keep_corrupt)


def read_json_envelope(
    spark: SparkSession,
    path: str,
    value_type: T.DataType,
    keep_corrupt: bool = False,
    header_list: bool = False,
) -> DataFrame:
    """Batch-read JSON-lines change events (one envelope object per line).

    The explicit schema keeps Spark from running a sampling inference
    pass (which a 100 TB log cannot afford) and makes new unknown fields an
    explicit schema-registry event rather than a silent inference change.

    Routed through :func:`parse_json_envelope` so file-based ingestion and
    Kafka-value parsing share one malformed-row contract: a corrupt line is
    dropped (default) or retained in ``_corrupt_record`` for a dead-letter
    sink (``keep_corrupt=True``) — never a silent all-null row.
    """
    return parse_json_envelope(
        spark.read.text(path), value_type, json_col="value",
        keep_corrupt=keep_corrupt, header_list=header_list,
    )
