"""CDC wire-format adapters: Debezium and MongoDB change streams → merge source.

The reference's pipelines consume MongoDB Kafka source-connector change
events (its ClickHouse flatten tests build fixtures with ``MongoSourceConfig``
/ ``BsonValueToSchemaAndValue``, ClickHouseFlattenTransformerTest.kt:3-8),
and a Debezium-style relational envelope (``before``/``after``/``op``/
``source.lsn``) is the generic binlog/WAL tail shape. Both adapters here are
pure plan transformations — ``from_json`` with the full envelope schema
applied once at plan time, vectorized JVM parsing, zero Python in the row
path — emitting the engine's canonical merge-source columns
(key + payload + ``_lsn`` + ``_tombstone``) that :meth:`LakeTable.merge`
and :class:`LwwDedup` consume directly.

Scale notes: map-only (no shuffle introduced here); the downstream merge's
key shuffle is unchanged. Malformed lines follow the same dead-letter
contract as :mod:`kafka_connect_plugins_spark.sources.json_envelope`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.plans.lake_table import LSN_COL, TOMBSTONE_COL
from kafka_connect_plugins_spark.sources.json_envelope import (
    _dead_letter_select,
    _parse_env_once,
)

__all__ = [
    "TX_ID_COL",
    "TX_ORDER_COL",
    "debezium_envelope_schema",
    "debezium_to_merge_source",
    "merge_source_to_envelope",
    "mongo_changestream_schema",
    "mongo_changestream_to_merge_source",
    "split_complete_transactions",
    "tail_wire_format",
]

TX_ID_COL = "_tx_id"
TX_ORDER_COL = "_tx_order"


def debezium_envelope_schema(row_type: T.StructType) -> T.StructType:
    """The Debezium payload envelope for a table whose rows are
    ``row_type``: ``before``/``after`` carry full row images, ``op`` is
    c(reate)/u(pdate)/d(elete)/r(ead, snapshot), ``source.lsn`` is the
    WAL/binlog position (the monotonic commit-LSN the engine orders on),
    ``ts_ms`` the connector-side wall clock fallback. The ``transaction``
    block is Debezium's ``provide.transaction.metadata=true`` shape
    (``{id, total_order, data_collection_order}``); connectors that don't
    emit it parse to null — ``from_json`` tolerates absent keys."""
    return T.StructType(
        [
            T.StructField("before", row_type, True),
            T.StructField("after", row_type, True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("lsn", T.LongType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                        T.StructField("db", T.StringType(), True),
                        T.StructField("table", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField(
                "transaction",
                T.StructType(
                    [
                        T.StructField("id", T.StringType(), True),
                        T.StructField("total_order", T.LongType(), True),
                        T.StructField("data_collection_order", T.LongType(), True),
                    ]
                ),
                True,
            ),
        ]
    )


def debezium_to_merge_source(
    df: DataFrame,
    row_type: T.StructType,
    key_columns: list[str],
    json_col: str = "value",
    keep_corrupt: bool = False,
    with_transaction: bool = False,
) -> DataFrame:
    """Parse a raw Debezium-JSON string column into merge-source rows.

    Upserts (``op`` c/u/r) take the ``after`` image; deletes take their KEY
    from the ``before`` image (Debezium deletes carry no after), null
    payload, ``_tombstone = true`` — exactly the shape the engine's retained
    delete markers need. ``_lsn`` is ``source.lsn`` with ``ts_ms`` fallback
    for connectors that don't populate it. Rows whose envelope fails to
    parse (or with an unknown ``op``) are dropped, or kept under
    ``_corrupt_record`` with every other column null when
    ``keep_corrupt=True`` (dead-letter contract).

    ``with_transaction=True`` additionally surfaces Debezium's transaction
    metadata as ``_tx_id`` / ``_tx_order`` — feed the result through
    :func:`split_complete_transactions` to apply only whole source
    transactions per epoch.
    """
    missing = [k for k in key_columns if k not in row_type.fieldNames()]
    if missing:
        raise ValueError(f"key columns {missing} not in row schema")
    env = debezium_envelope_schema(row_type)
    parsed = _parse_env_once(df, json_col, env)
    op = F.col("__env.op")
    is_delete = op == F.lit("d")
    valid = op.isin("c", "u", "r", "d")
    cols = []
    for f_ in row_type.fields:
        if f_.name in key_columns:
            # delete events image the key in `before`
            c = F.when(is_delete, F.col(f"__env.before.{f_.name}")).otherwise(
                F.col(f"__env.after.{f_.name}")
            )
        else:
            c = F.when(is_delete, F.lit(None).cast(f_.dataType)).otherwise(
                F.col(f"__env.after.{f_.name}")
            )
        cols.append(c.alias(f_.name))
    cols.append(
        F.coalesce(F.col("__env.source.lsn"), F.col("__env.ts_ms")).alias(LSN_COL)
    )
    cols.append(is_delete.alias(TOMBSTONE_COL))
    if with_transaction:
        cols.append(F.col("__env.transaction.id").alias(TX_ID_COL))
        cols.append(F.col("__env.transaction.total_order").alias(TX_ORDER_COL))
    return _dead_letter_select(parsed, cols, valid, json_col, keep_corrupt)


def merge_source_to_envelope(
    src: DataFrame, key_columns: list[str], null_key_policy: str = "error"
) -> DataFrame:
    """Lift merge-source rows (any adapter's output) into the engine's
    change-event envelope, so the full ingest chain — SMT pipeline, DLQ,
    ``foreachBatch`` MERGE — runs unchanged on a Debezium or Mongo tail.

    Key columns concatenate into the envelope ``key`` (the composite-key
    convention ``events_to_merge_source`` splits back apart); payload
    columns pack into ``value``, null for tombstones (the envelope's
    delete encoding); ``_lsn`` becomes ``offset``. ``partition`` is 0 —
    a wire tail has no Kafka partition; per-partition lineage collapses
    to one global watermark, which is exactly the stream's total order.

    ``null_key_policy`` governs rows with a NULL key COMPONENT. A
    relational PK is NOT NULL, so such rows are outside the wire contract
    — and no string encoding of them is safe: ``concat_ws`` skips null
    components (``(NULL,'y')`` and ``('y',NULL)`` both serialize to
    ``'y'``, colliding with real keys), while folding them all into a NULL
    envelope key merges DISTINCT source keys like ``(NULL,'a')`` and
    ``(NULL,'b')`` into one identity, so the downstream LWW merge silently
    keeps one row of the two. Policies:

    - ``"error"`` (default): ``raise_error`` on the first such row — loud
      upstream-corruption signal, nothing merges under a wrong identity;
    - ``"null"``: carry a NULL envelope key (all NULL-component rows share
      the single null identity — never another key's — accepting the
      cross-row collapse described above);
    - ``"drop"``: filter such rows out of the envelope.
    """
    from kafka_connect_plugins_spark.engine import KEY_SEP

    if null_key_policy not in ("error", "null", "drop"):
        raise ValueError(
            f"null_key_policy must be 'error', 'null' or 'drop', "
            f"got {null_key_policy!r}"
        )
    payload = [
        c
        for c in src.columns
        if c
        not in {
            *key_columns,
            LSN_COL,
            TOMBSTONE_COL,
            TX_ID_COL,
            TX_ORDER_COL,
            "_corrupt_record",
        }
    ]
    any_null = F.lit(False)
    for k in key_columns:
        any_null = any_null | F.col(k).isNull()
    if null_key_policy == "drop":
        src = src.filter(~any_null)
    value = F.when(
        ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)),
        F.struct(*[F.col(c) for c in payload]),
    )
    key = F.when(
        ~any_null,
        F.concat_ws(KEY_SEP, *[F.col(k).cast("string") for k in key_columns]),
    )
    if null_key_policy == "error":
        key = key.otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "merge_source_to_envelope: NULL component in the "
                        f"composite key ({', '.join(key_columns)}): ("
                    ),
                    F.concat_ws(
                        ", ",
                        *[
                            F.coalesce(F.col(k).cast("string"), F.lit("NULL"))
                            for k in key_columns
                        ],
                    ),
                    F.lit(
                        ") — a relational PK is NOT NULL; fix the upstream "
                        "extract or pass null_key_policy='null'/'drop'"
                    ),
                )
            )
        )
    return src.select(
        F.lit("cdc").alias("topic"),
        F.lit(0).alias("partition"),
        F.col(LSN_COL).cast("long").alias("offset"),
        F.lit(None).cast("long").alias("timestamp"),
        key.alias("key"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        value.alias("value"),
    )


def split_complete_transactions(
    src: DataFrame,
    markers: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split a merge source into ``(ready, held)`` at transaction boundaries.

    CDC consumers that apply half a source transaction expose states the
    database never had. Debezium's answer is transaction metadata: each data
    event carries ``transaction.id`` and a separate transaction topic emits
    END markers with per-transaction event counts
    (``provide.transaction.metadata``; the engine's ``_tx_id`` comes from
    :func:`debezium_to_merge_source` ``with_transaction=True``). This
    operator holds back the incomplete tail so an epoch's MERGE only ever
    applies whole transactions:

    - **Marker mode** (``markers`` given — columns ``(_tx_id,
      event_count)`` from the transaction topic's END events): a
      transaction is ready iff its observed row count equals the marker's
      count. One count aggregate on ``_tx_id`` (output is one row per
      transaction — tiny next to the data) joined back semi/anti.
    - **Tail-holdback mode** (no markers): the WAL serializes commits, so
      in LSN order a transaction's events are contiguous and only the
      stream-tail transaction can still be mid-flight. Held = the
      transaction owning the max-LSN row; everything below it is committed.
      A one-row aggregate, broadcast back — no data shuffle.

    Rows with a null ``_tx_id`` are non-transactional (autocommit) and are
    always ready. ``held`` rows re-enter on the next epoch read: in
    tail-holdback mode every held LSN exceeds every ready LSN, so the
    ledger watermark ``max(ready._lsn)`` re-serves exactly the held rows.
    """
    tx = F.col(TX_ID_COL)
    if markers is not None:
        counts = (
            src.filter(tx.isNotNull())
            .groupBy(tx.alias("__tx"))
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        complete = (
            counts.join(
                markers.select(
                    F.col(TX_ID_COL).alias("__tx"),
                    F.col("event_count").cast("long").alias("__expected"),
                ),
                "__tx",
            )
            # >= not ==: Kafka redelivery is at-least-once, so a transaction
            # whose epoch read contains a duplicated event has observed
            # count expected+1; exact equality would hold it back FOREVER
            # (silent loss). Overshoot is safe — the merge's LWW dedup
            # collapses redelivered rows idempotently.
            .filter(F.col("__n") >= F.col("__expected"))
            .select("__tx")
        )
        ready = src.join(complete, tx == F.col("__tx"), "left_semi").unionByName(
            src.filter(tx.isNull())
        )
        held = src.filter(tx.isNotNull()).join(
            complete, tx == F.col("__tx"), "left_anti"
        )
        return ready, held
    open_tx = (
        src.agg(F.max_by(tx, F.col(LSN_COL)).alias("__tx"))
        .filter(F.col("__tx").isNotNull())
    )
    # null tx never equals __tx, so autocommit rows pass the anti-join
    ready = src.join(F.broadcast(open_tx), tx == F.col("__tx"), "left_anti")
    held = src.join(F.broadcast(open_tx), tx == F.col("__tx"), "left_semi")
    return ready, held


def tail_wire_format(
    spark,
    events_dir: str,
    wire_format: str,
    row_type: T.StructType,
    key_columns: list[str],
    max_files_per_trigger: int | None = None,
    null_key_policy: str = "error",
) -> DataFrame:
    """Stream a JSON-lines CDC tail in a public wire format as envelope rows.

    ``readStream.text`` is the sandbox stand-in for the Kafka value stream
    (on a cluster, swap in ``format("kafka")`` and the same adapters run on
    ``CAST(value AS STRING)``). ``wire_format`` is ``"debezium"`` or
    ``"mongo"``; for Mongo the key is always ``_id`` and ``key_columns`` is
    ignored. Returns an UNBOUNDED DataFrame ready for
    :meth:`StreamingIngest.start`.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.text(events_dir)  # column: value string
    if wire_format == "debezium":
        src = debezium_to_merge_source(raw, row_type, key_columns)
        return merge_source_to_envelope(src, key_columns, null_key_policy)
    if wire_format == "mongo":
        src = mongo_changestream_to_merge_source(raw, row_type)
        return merge_source_to_envelope(src, ["_id"], null_key_policy)
    raise ValueError(f"unknown wire format {wire_format!r} (debezium | mongo)")


# BSON timestamps order change streams: (t seconds, i ordinal-within-second).
# Packed into one long they are the stream's monotonic LSN.
_TS = T.StructType(
    [T.StructField("t", T.LongType(), True), T.StructField("i", T.LongType(), True)]
)


def mongo_changestream_schema(doc_type: T.StructType) -> T.StructType:
    """The MongoDB change-stream document (extended-JSON shapes as the
    Mongo Kafka source connector emits them): ``operationType``,
    ``documentKey._id`` (typed like the document's ``_id``),
    ``fullDocument`` (requires the connector's
    ``change.stream.full.document=updateLookup`` so updates carry the full
    post-image — partial updates cannot LWW-merge), ``clusterTime``
    as the ``$timestamp {t, i}`` BSON pair."""
    if "_id" not in doc_type.fieldNames():
        raise ValueError("document schema must contain _id")
    id_type = doc_type["_id"].dataType
    return T.StructType(
        [
            T.StructField("operationType", T.StringType(), True),
            T.StructField(
                "documentKey",
                T.StructType([T.StructField("_id", id_type, True)]),
                True,
            ),
            T.StructField("fullDocument", doc_type, True),
            T.StructField(
                "clusterTime",
                T.StructType([T.StructField("$timestamp", _TS, True)]),
                True,
            ),
        ]
    )


def mongo_changestream_to_merge_source(
    df: DataFrame,
    doc_type: T.StructType,
    json_col: str = "value",
    keep_corrupt: bool = False,
) -> DataFrame:
    """Parse raw Mongo change-stream JSON into merge-source rows keyed on
    ``_id``.

    insert/update/replace take ``fullDocument``; delete takes its key from
    ``documentKey`` with ``_tombstone = true``. ``_lsn`` packs the BSON
    cluster timestamp ``(t, i)`` into one long (``t << 32 | i``) — the
    change stream's total order. Non-document operations (``drop``,
    ``invalidate``, ...) and unparseable lines are dropped, or dead-lettered
    under ``_corrupt_record`` when ``keep_corrupt=True``.
    """
    env = mongo_changestream_schema(doc_type)
    parsed = _parse_env_once(df, json_col, env)
    op = F.col("__env.operationType")
    is_delete = op == F.lit("delete")
    valid = op.isin("insert", "update", "replace", "delete")
    ts = F.col("__env.clusterTime.`$timestamp`")
    cols = []
    for f_ in doc_type.fields:
        if f_.name == "_id":
            c = F.when(is_delete, F.col("__env.documentKey._id")).otherwise(
                F.col("__env.fullDocument._id")
            )
        else:
            c = F.when(is_delete, F.lit(None).cast(f_.dataType)).otherwise(
                F.col(f"__env.fullDocument.{f_.name}")
            )
        cols.append(c.alias(f_.name))
    cols.append(
        (F.shiftleft(F.coalesce(ts["t"], F.lit(0)), 32) + F.coalesce(ts["i"], F.lit(0)))
        .cast("long")
        .alias(LSN_COL)
    )
    cols.append(is_delete.alias(TOMBSTONE_COL))
    return _dead_letter_select(parsed, cols, valid, json_col, keep_corrupt)
