"""End-to-end CDC ingest: change-event envelope → transform chain → MERGE.

This is the reference's deployment shape (source connector → SMT chain →
upsert sink, README.md:26-31,113-151) re-expressed Spark-first:

    events (envelope rows)
      → UnquoteRecordKey            (key cleanup, UnquoteRecordKey.kt)
      → SoftDeleteToTombstone       (deleted_at → null value, SoftDelete...kt)
      → merge-source projection     (key → (repo, path); value → payload)
      → LakeTable.merge             (LWW on commit-LSN, exactly-once epoch)

Tombstoned rows carry only the envelope key — exactly Kafka's tombstone
contract — so the merge-source projection recovers (repo, path) from the
key, never from the (null) value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.operators import (
    Pipeline,
    SoftDeleteToTombstone,
    UnquoteRecordKey,
)
from kafka_connect_plugins_spark.plans.lake_table import LakeTable, MergeStats

KEY_SEP = "|"


def cdc_transform_chain() -> Pipeline:
    """The standard pre-merge SMT chain for the repo-content stream."""
    return Pipeline(
        [
            UnquoteRecordKey(),
            SoftDeleteToTombstone({"field": "deleted_at"}),
        ]
    )


def events_to_merge_source(events: DataFrame) -> DataFrame:
    """Project transformed envelope rows into the MERGE source contract.

    Output: key columns (repo, path) — always non-null, derived from the
    envelope key so tombstones keep their identity — plus payload columns,
    ``_lsn`` (the offset) and ``_tombstone`` (null value).
    """
    # substring_index / locate instead of F.split: split compiles to a JVM
    # regex evaluated per record — measured ~16% of epoch CPU in thread-dump
    # profiles of the merge hot path.
    repo = F.substring_index(F.col("key"), KEY_SEP, 1)
    path = F.when(
        F.locate(KEY_SEP, F.col("key")) > 0,
        F.expr(f"substring(key, locate('{KEY_SEP}', key) + 1)"),
    )  # no separator -> null path (split-with-limit semantics)
    return events.select(
        repo.alias("repo"),
        path.alias("path"),
        F.col("value.commit").alias("commit"),
        F.col("value.lang").alias("lang"),
        F.col("value.content").alias("content"),
        F.col("offset").alias("_lsn"),
        F.col("value").isNull().alias("_tombstone"),
        F.col("partition").alias("_src_partition"),
    )


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None = None,
    stream_id: str = "default",
    pipeline: Pipeline | None = None,
    merge_mode: str = "rewrite",
) -> MergeStats:
    """Run one microbatch of envelope events through the chain into the table.

    ``merge_mode`` accepts only ``"rewrite"`` (see ``LakeTable.merge``).
    """
    chain = pipeline if pipeline is not None else cdc_transform_chain()
    transformed = chain.apply(events)
    source = events_to_merge_source(transformed)
    return table.merge(
        source,
        lsn_col="_lsn",
        tombstone_col="_tombstone",
        epoch_id=epoch_id,
        stream_id=stream_id,
        lineage_col="_src_partition",
        mode=merge_mode,
    )


def create_repo_table(
    spark: SparkSession, root: str, num_buckets: int = 64
) -> LakeTable:
    """Create the BASELINE-shaped target table (repo, path, commit, lang, content)."""
    return LakeTable.create(spark, root, key_columns=["repo", "path"], num_buckets=num_buckets)


def replay(
    table: LakeTable,
    events: DataFrame,
    batches: int = 1,
    events_per_epoch: int | None = None,
    stream_id: str = "replay",
) -> list[MergeStats]:
    """Batch replay of an event log as ``batches`` consecutive epochs.

    Splitting is on LSN ranges, mirroring how a streaming tail would cut
    microbatches from the log.
    """
    if batches <= 1 and events_per_epoch is None:
        return [apply_batch(table, events, epoch_id=0, stream_id=stream_id)]
    if events_per_epoch is None:
        hi = events.agg(F.max("offset")).first()[0] or 0
        events_per_epoch = (hi + batches) // batches
    stats: list[MergeStats] = []
    epoch = 0
    while True:
        lo, hi = epoch * events_per_epoch, (epoch + 1) * events_per_epoch
        batch = events.filter((F.col("offset") >= lo) & (F.col("offset") < hi))
        st = apply_batch(table, batch, epoch_id=epoch, stream_id=stream_id)
        stats.append(st)
        if st.source_rows == 0 and not st.skipped:
            break
        epoch += 1
        if batches and epoch >= batches:
            break
    return stats


def replay_transactional(
    table: LakeTable,
    source: DataFrame,
    events_per_epoch: int,
    stream_id: str = "txreplay",
    tx_col: str = "_tx_id",
    lsn_col: str = "_lsn",
    flush_tail: bool = True,
) -> list[MergeStats]:
    """Batch replay with **transaction-aligned epoch cuts**.

    ``source`` is a merge source carrying Debezium transaction metadata
    (``debezium_to_merge_source(..., with_transaction=True)``). Plain
    LSN-range epochs can split a source transaction across two commits,
    exposing table states the database never had; here every epoch's cut is
    trimmed to the committed-transaction frontier
    (:func:`sources.cdc_formats.split_complete_transactions`, tail-holdback
    mode) and the watermark advances to ``max(ready lsn)`` — the held tail
    transaction's rows all sit above it, so the next epoch's range re-serves
    exactly them. Every committed snapshot is therefore
    transaction-consistent, and the epoch sequence is deterministic for a
    given (source, step), which keeps the exactly-once ledger skip working
    on re-runs.

    A transaction larger than ``events_per_epoch`` widens the range
    (doubling) until at least one whole transaction fits. ``flush_tail``
    applies the final tail transaction once the closed log is exhausted —
    batch replay reads a finished log, so its tail IS committed; pass
    ``False`` when replaying a snapshot of a still-live tail (the held rows
    are simply not applied and a later run picks them up).

    Driver-side cost: one tiny ``min/max`` aggregate up front and one
    ``max`` per epoch (control plane, same order as the merge's own stats
    collect). Data never moves through the driver.
    """
    from kafka_connect_plugins_spark.sources.cdc_formats import (
        TX_ORDER_COL,
        split_complete_transactions,
    )

    bounds = source.agg(
        F.min(lsn_col).alias("lo"), F.max(lsn_col).alias("hi")
    ).first()
    if bounds["lo"] is None:
        return []
    log_max = bounds["hi"]
    wm = bounds["lo"] - 1
    data_cols = [c for c in source.columns if c not in (tx_col, TX_ORDER_COL)]
    stats: list[MergeStats] = []
    epoch, step = 0, events_per_epoch
    while wm < log_max:
        hi = wm + step
        batch = source.filter((F.col(lsn_col) > wm) & (F.col(lsn_col) <= hi))
        if hi >= log_max and flush_tail:
            ready = batch  # closed log: the tail transaction has committed
        else:
            ready, _held = split_complete_transactions(
                batch, tx_col=tx_col, lsn_col=lsn_col
            )
        new_wm = ready.agg(F.max(lsn_col)).first()[0]
        if new_wm is None:
            if hi >= log_max:
                break  # open tail transaction and flush_tail=False
            step *= 2  # one transaction spans the whole range — widen
            continue
        st = table.merge(
            ready.select(*data_cols),
            lsn_col=lsn_col,
            epoch_id=epoch,
            stream_id=stream_id,
        )
        stats.append(st)
        wm, step = new_wm, events_per_epoch
        epoch += 1
    return stats


def replay_pipelined(
    table: LakeTable,
    batches: list[DataFrame],
    start_epoch: int = 0,
    stream_id: str = "replay",
    pipeline: Pipeline | None = None,
) -> list[MergeStats]:
    """Replay consecutive epochs with a ONE-EPOCH stats/write pipeline.

    ``merge_prepare(i+1)`` (the source-only key-stats aggregation and its
    one driver collect) runs on a helper thread CONCURRENTLY with
    ``merge(prep=i)`` (the one-exchange LWW write + commit). Spark schedules jobs from both threads onto the same
    executors; with ``spark.scheduler.mode=FAIR`` the two jobs share task
    slots by pool weight (pools ``kcp_stats`` / ``kcp_write`` are created on
    demand), and even under FIFO the stats tasks fill the write job's
    driver-serial bubbles (collect barriers, commit fsync, stage tails).

    Exactly-once is untouched: ``merge_prepare`` mutates nothing, and the
    epoch guard + manifest commit stay inside ``merge()`` in epoch order —
    a crash mid-pipeline loses only uncommitted work, and the next run's
    epoch guard resumes from the last committed epoch exactly as in the
    serial loop. (Structured Streaming's ``foreachBatch`` cannot use this
    shape: the checkpoint commits batch ``i``'s offsets when the callback
    returns, so moving the write past the return would open a
    lost-epoch window on crash. The replay driver commits epochs through
    the table manifest itself, which is why prefetching is safe HERE.)

    Each returned MergeStats carries two extra ``phases`` keys:
    ``prep_wall`` (the concurrent prepare's wall time) and
    ``prep_overlap`` (how much of it ran inside the previous epoch's
    apply window — the overlap the pipeline actually bought).
    """
    from concurrent.futures import ThreadPoolExecutor
    import time as _time

    if not batches:
        return []
    chain = pipeline if pipeline is not None else cdc_transform_chain()
    sc = table.spark.sparkContext

    def _prepare(events: DataFrame):
        sc.setLocalProperty("spark.scheduler.pool", "kcp_stats")
        t0 = _time.time()
        prep = table.merge_prepare(
            events_to_merge_source(chain.apply(events)),
            lsn_col="_lsn",
            tombstone_col="_tombstone",
            lineage_col="_src_partition",
        )
        return prep, t0, _time.time()

    stats: list[MergeStats] = []
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_prepare, batches[0])
            for i in range(len(batches)):
                prep, p0, p1 = fut.result()
                if i + 1 < len(batches):
                    fut = pool.submit(_prepare, batches[i + 1])
                sc.setLocalProperty("spark.scheduler.pool", "kcp_write")
                a0 = _time.time()
                st = table.merge(
                    prep=prep,
                    epoch_id=start_epoch + i,
                    stream_id=stream_id,
                )
                a1 = _time.time()
                st.phases["prep_wall"] = round(p1 - p0, 3)
                # overlap of THIS prep with the PREVIOUS epoch's apply window
                if stats:
                    prev0, prev1 = stats[-1].phases.get("__apply_window", (a0, a0))
                    st.phases["prep_overlap"] = round(
                        max(0.0, min(p1, prev1) - max(p0, prev0)), 3
                    )
                st.phases["__apply_window"] = (a0, a1)
                stats.append(st)
    finally:
        # the reset must survive exceptions: the caller's thread would
        # otherwise keep scheduling every later job in the kcp_write pool
        sc.setLocalProperty("spark.scheduler.pool", None)
    for st in stats:
        st.phases.pop("__apply_window", None)
    return stats
