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

from .lake_table import TOMBSTONE_COL, LakeTable

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
