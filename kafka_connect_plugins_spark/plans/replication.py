"""Incremental table replication over the change data feed.

The reference deploys one connector per downstream store and replays the
same Kafka topic into each (README.md:113-151 — the ClickHouse and Redshift
sinks are parallel consumers of one changelog). Once the changelog has been
merged into the lake table, that fan-out pattern needs a lake-level
equivalent: ship a table's own change feed to another table (a DR copy,
another region, a dev fork) without re-reading the source log. This module
is that consumer — Delta's ``CDC``-based replication / Iceberg's
changelog-scan sync expressed over :meth:`LakeTable.read_changes`.

Design (and why it scales):

- **Delta shipping, never full copies.** Each sync reads
  ``read_changes(last_applied, head)`` — bucket-pruned on the source side,
  so I/O is proportional to what changed since the last sync, not to table
  size. A fresh replica starts from version 0 (always the empty create
  manifest), which makes bootstrap the same code path: one big
  all-inserts delta.
- **Exactly-once via the replica's own epoch ledger.** The sync commits
  with ``stream_id="cdf:<source>"`` and ``epoch_id = source head version``
  — the same atomic manifest guard every merge uses. A crashed sync either
  never committed (the next run re-ships the same range — read_changes is
  deterministic for fixed versions) or committed (the next run no-ops).
  No separate replication checkpoint exists to drift.
- **LWW makes the apply order-safe.** Change rows carry the source's
  ``_lsn``; deletes become tombstone rows at the deleted row's LSN, which
  win on the equal-LSN source-wins tiebreak. Replaying any prefix or the
  whole feed converges to the same state, so chained replicas (A → B → C)
  are just replication with B as the source.
- **Verification is the digest the engine already has.** A replica is
  correct iff ``replica.state_digest() == source.state_digest(version=v)``
  for the synced version ``v`` — the order-insensitive sha256 fold over
  live rows (replica bucket count or layout may differ; the digest is
  layout-blind by construction).

One documented divergence: the replica does not retain the SOURCE's
tombstone markers' LSNs (its markers sit at the deleted row's last live
LSN, which is <= the source marker's). That weakens nothing here — the
replica's only writer is this feed, whose events always carry the source's
visible state forward — but a replica that additionally ingests the
original changelog directly should use the normal merge path, not this
module.
"""

from __future__ import annotations

import os
import time
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..functions.hashing import crc32_pmod
from .lake_table import LSN_COL, TOMBSTONE_COL, LakeTable

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def replication_stream_id(source: LakeTable) -> str:
    """Stable ledger key for "this replica is fed by that table".

    Keyed on the source's FULL path, not its basename: two different
    sources that happen to share a directory name (``/region1/orders``
    and ``/region2/orders``) must not share one ledger entry in a common
    replica — the second feed would read the first's applied epoch and
    silently never ship. The basename stays in the id for readability;
    the crc32 of the absolute path is what disambiguates."""
    root = os.path.abspath(source.root)
    return f"cdf:{os.path.basename(root)}:{zlib.crc32(root.encode('utf-8')):08x}"


def changes_to_merge_source(changes: DataFrame) -> DataFrame:
    """Rewrite a change feed into merge() input: postimages upsert at their
    LSN, deletes become tombstones at the deleted row's LSN (equal-LSN
    source-wins then removes the replica's live row). Preimage rows, if the
    caller produced any, are informational and dropped."""
    return (
        changes.filter(F.col(CHANGE_TYPE_COL) != "update_preimage")
        .withColumn(
            TOMBSTONE_COL, (F.col(CHANGE_TYPE_COL) == "delete").cast("boolean")
        )
        .drop(CHANGE_TYPE_COL, COMMIT_VERSION_COL)
    )


def ensure_replica(
    spark: SparkSession,
    source: LakeTable,
    root: str,
    num_buckets: int | None = None,
) -> LakeTable:
    """Open (or create, keyed like the source) the replica table at ``root``.

    Bucket count defaults to the source's but may differ — replication is
    logical, so a replica can be re-bucketed for its own read pattern.
    """
    if os.path.exists(os.path.join(root, "_CURRENT")):
        replica = LakeTable.load(spark, root)
        src_keys = source.manifest()["key_columns"]
        rep_keys = replica.manifest()["key_columns"]
        if rep_keys != src_keys:
            raise ValueError(
                f"replica at {root} is keyed on {rep_keys}, source on "
                f"{src_keys}; replication requires identical key columns"
            )
        return replica
    m = source.manifest()
    return LakeTable.create(
        spark,
        root,
        key_columns=list(m["key_columns"]),
        num_buckets=int(num_buckets or m["num_buckets"]),
    )


def export_changes_envelope(
    source: LakeTable,
    from_version: int,
    to_version: int | None = None,
    topic: str | None = None,
    num_partitions: int = 16,
) -> DataFrame:
    """The egress direction: a table's change feed as Connect-envelope
    records — what a Kafka Connect SOURCE connector would publish for this
    table (the reference is the SINK half of that loop; this closes it, so
    a lake table can feed the same downstream fan-out its own input topic
    did).

    Wire contract (the package's envelope schema, ``envelope.py``):

    - ``key``   — canonical JSON of the key columns (one record key string)
    - ``value`` — the non-key payload struct; **NULL for deletes** (Kafka's
      tombstone encoding, the same one ``SoftDeleteToTombstone`` produces)
    - ``partition`` — the REFERENCE's own CRC32-pmod router over the key
      (``functions/hashing.py`` golden-parity partitioner), so the export
      lands keys on the same partitions the reference's ``Partitioner``
      would pick
    - ``offset`` — the row's commit-LSN (the envelope contract: offset
      generalizes to the LWW LSN; per-key monotone across exports)
    - ``headers`` — ``_change_type`` and ``_commit_version`` for consumers
      that want the CDF classification without inspecting the value

    Map-only over the (bucket-pruned) change feed — no shuffle; write or
    publish the result wherever the transport lives (JSON lines, parquet,
    a real Kafka sink on a cluster). Re-ingest with
    :func:`envelope_feed_to_merge_source` + ``merge()``.
    """
    m = source.manifest(to_version)
    keys = m["key_columns"]
    changes = source.read_changes(from_version, to_version)
    payload = [
        c
        for c in changes.columns
        if c not in keys
        and c not in (LSN_COL, CHANGE_TYPE_COL, COMMIT_VERSION_COL)
    ]
    key_json = F.to_json(F.struct(*[F.col(k) for k in keys]))
    return changes.select(
        F.lit(topic or os.path.basename(os.path.abspath(source.root))).alias(
            "topic"
        ),
        crc32_pmod(key_json, num_partitions).alias("partition"),
        F.col(LSN_COL).alias("offset"),
        F.lit(None).cast("long").alias("timestamp"),
        key_json.alias("key"),
        F.create_map(
            F.lit(CHANGE_TYPE_COL),
            F.col(CHANGE_TYPE_COL),
            F.lit(COMMIT_VERSION_COL),
            F.col(COMMIT_VERSION_COL).cast("string"),
        ).alias("headers"),
        F.when(
            F.col(CHANGE_TYPE_COL) != "delete",
            F.struct(*[F.col(c) for c in payload]),
        ).alias("value"),
    )


def envelope_feed_to_merge_source(
    env: DataFrame, schema: T.StructType, keys: list[str]
) -> DataFrame:
    """Inverse of :func:`export_changes_envelope`: envelope records back
    into ``merge()`` input. ``schema``/``keys`` are the destination table's
    contract (in a deployment, the schema registry's subject for the topic).
    Key columns parse out of the record-key JSON — present on every record
    including tombstones, which carry no value to parse."""
    key_schema = T.StructType([schema[k] for k in keys])
    payload = [
        f_ for f_ in schema.fields if f_.name not in keys and f_.name != LSN_COL
    ]
    k = F.from_json(F.col("key"), key_schema)
    return env.select(
        *[k[kc].alias(kc) for kc in keys],
        *[F.col("value")[f_.name].alias(f_.name) for f_ in payload],
        F.col("offset").alias(LSN_COL),
        F.col("value").isNull().alias(TOMBSTONE_COL),
    )


def replicate(
    source: LakeTable,
    replica: LakeTable,
    stream_id: str | None = None,
    verify: bool = False,
) -> dict:
    """One incremental sync: ship the source's unapplied change feed into
    the replica and commit it under the source head version.

    Returns ``{from_version, to_version, rows_applied, skipped, seconds[,
    verified]}``. Idempotent and crash-resumable: the applied range lives in
    the replica's epoch ledger, inside the same atomic commit as the data.
    ``verify=True`` recomputes both digests after the apply (two extra
    scans — operational spot-check, not a steady-state cost).
    """
    t0 = time.time()
    sid = stream_id or replication_stream_id(source)
    to_version = int(source.manifest()["version"])
    last = replica.last_epoch(sid)
    from_version = last if last >= 0 else 0
    out = {
        "op": "replicate",
        "stream_id": sid,
        "from_version": from_version,
        "to_version": to_version,
        "rows_applied": 0,
        "skipped": True,
    }
    if to_version > from_version:
        delta = changes_to_merge_source(
            source.read_changes(from_version, to_version)
        )
        stats = replica.merge(delta, epoch_id=to_version, stream_id=sid)
        out["skipped"] = stats.skipped
        out["rows_applied"] = stats.rows_written
    if verify:
        out["verified"] = (
            replica.state_digest() == source.state_digest(version=to_version)
        )
    out["seconds"] = round(time.time() - t0, 3)
    return out
