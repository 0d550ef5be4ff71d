"""Structured-Streaming CDC ingest: change-log tail → foreachBatch MERGE.

This is the deployment shape the north rule specifies — the streaming
analogue of a Kafka Connect worker running the SMT chain between a source
connector and an upsert sink (reference README.md:26-31). The moving parts:

- **Tail**: ``spark.readStream`` over the change-log directory (file source
  in this sandbox; on a cluster the same code takes ``format("kafka")`` —
  only ``tail_changelog`` changes, the sink is source-agnostic). The file
  source checkpoint tracks which files each microbatch contained, so a
  restarted query replays an in-flight batch with the SAME epoch id and the
  SAME rows.
- **Sink**: ``foreachBatch`` → transform chain → :meth:`LakeTable.merge`.
  Exactly-once = Spark's at-least-once batch replay × the table's epoch
  guard: the epoch id is committed inside the same atomic manifest swap as
  the data pointer, so a batch that already committed is recognized and
  skipped on redelivery (Iceberg snapshot-summary epoch pattern).
- **Metrics**: per-epoch JSONL (events/sec, dirty buckets, per-partition
  LSN high-watermarks) via :class:`MetricsLog`.

The ingest chain itself is stateless per record (like the reference); late
and duplicate data are handled by the LWW-on-LSN merge, which is
order-insensitive (SURVEY.md §2.2), and a redelivered batch by the epoch
guard above.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_plugins_spark.engine import apply_batch
from kafka_connect_plugins_spark.operators import Pipeline
from kafka_connect_plugins_spark.plans.lake_table import LakeTable, MergeStats
from kafka_connect_plugins_spark.envelope import envelope_schema
from kafka_connect_plugins_spark.streaming.metrics import MetricsLog

# Payload struct of the repo-content change stream (BASELINE input shape).
CHANGELOG_VALUE_TYPE = T.StructType(
    [
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("deleted_at", T.LongType(), True),
    ]
)

# StreamingIngest keeps only the newest per-epoch stats in memory, so a
# long-running tail does not grow without limit; a MetricsLog, when given,
# keeps the full history on disk.
_EPOCH_STATS_KEPT = 1_000


def tail_changelog(
    spark: SparkSession,
    events_dir: str,
    value_type: T.DataType = CHANGELOG_VALUE_TYPE,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the change-event envelope from a parquet log directory.

    The file source is the sandbox stand-in for the binlog/Kafka tail; its
    checkpoint offsets are file names, giving deterministic batch replay.
    """
    reader = spark.readStream.schema(envelope_schema(value_type))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


class StreamingIngest:
    """Drives microbatches of a change-event stream into a :class:`LakeTable`."""

    def __init__(
        self,
        table: LakeTable,
        pipeline: Pipeline | None = None,
        stream_id: str = "stream",
        metrics: MetricsLog | None = None,
        dlq_dir: str | None = None,
        views: list | None = None,
        replicas: list | None = None,
    ):
        self.table = table
        self.pipeline = pipeline
        self.stream_id = stream_id
        self.metrics = metrics
        # MaterializedViews advanced after every committed epoch (each
        # refresh reads only the change feed of the epoch it folds in).
        # Refresh happens OUTSIDE the manifest swap: a crash between commit
        # and refresh is healed by the next refresh (it advances from the
        # table version it last recorded, not from the epoch).
        self.views = list(views or [])
        # Replica LakeTables that FOLLOW this ingest: after each committed
        # epoch the table's new change feed is shipped into each replica
        # (plans/replication.py). Same crash contract as views — the sync
        # range lives in the replica's own epoch ledger, so a crash between
        # the source commit and the replica sync is healed by the next sync.
        self.replicas = list(replicas or [])
        # Connect's errors.deadletterqueue.topic.name analogue: when set (and
        # a pipeline is present), rows a stage would fail on are appended
        # here as parquet (partitioned by epoch) instead of failing the
        # query — see Pipeline.apply_with_dlq.
        self.dlq_dir = dlq_dir
        self.epoch_stats: deque[MergeStats] = deque(maxlen=_EPOCH_STATS_KEPT)

    # foreachBatch body — runs on the driver once per microbatch.
    def _apply(self, batch: DataFrame, epoch_id: int) -> None:
        if self.table.last_epoch(self.stream_id) >= int(epoch_id):
            # Replay of an already-committed batch (restart after the
            # manifest swap): the merge's epoch guard would skip it anyway,
            # but the DLQ append is NOT inside that atomic swap — re-running
            # the pipeline here would duplicate DLQ rows. Skip everything.
            # (If the merge itself fails and the batch retries, the epoch is
            # uncommitted and the DLQ append DOES re-run: DLQ output is
            # at-least-once, keyed by _dlq_epoch for downstream dedup.)
            stats = MergeStats(epoch_id=int(epoch_id), skipped=True)
            self.epoch_stats.append(stats)
            if self.metrics is not None:
                self.metrics.record(self.stream_id, stats)
            return
        pipeline = self.pipeline
        if self.dlq_dir is not None and pipeline is not None:
            from pyspark.sql import functions as F

            batch, dlq = pipeline.apply_with_dlq(batch)
            pipeline = Pipeline([])  # chain already applied
            # isEmpty is a limit-1 probe job: clean epochs skip the write
            # entirely instead of appending empty part files every batch.
            if not dlq.isEmpty():
                (
                    dlq.withColumn("_dlq_epoch", F.lit(int(epoch_id)))
                    .write.mode("append")
                    .parquet(self.dlq_dir)
                )
        stats = apply_batch(
            self.table,
            batch,
            epoch_id=int(epoch_id),
            stream_id=self.stream_id,
            pipeline=pipeline,
        )
        self.epoch_stats.append(stats)
        if self.metrics is not None:
            self.metrics.record(self.stream_id, stats)
        for view in self.views:
            view.refresh()
        if self.replicas:
            from kafka_connect_plugins_spark.plans.replication import replicate

            for replica in self.replicas:
                replicate(self.table, replica)

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = False,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        """Start the ingest query.

        ``available_now=True`` drains everything currently in the log and
        stops (replay / catch-up mode); ``processing_time`` runs a continuous
        tail. The checkpoint directory makes the query resumable: restarting
        with the same checkpoint continues from the last committed source
        offset, and a batch that was mid-flight at the crash is replayed
        under its original epoch id (then deduplicated by the epoch guard).
        """
        writer = (
            stream.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", checkpoint_dir)
            .queryName(f"cdc-ingest-{self.stream_id}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        value_type: T.DataType = CHANGELOG_VALUE_TYPE,
        max_files_per_trigger: int | None = None,
        timeout_sec: float | None = None,
        stream: DataFrame | None = None,
    ) -> list[MergeStats]:
        """Drain the current log contents into the table; returns the
        newest epoch stats (at most ``_EPOCH_STATS_KEPT``).

        Pass ``stream`` to drain a pre-built tail (e.g. a Debezium/Mongo
        JSON-lines tail from :func:`sources.cdc_formats.tail_wire_format`)
        instead of the default parquet envelope log.
        """
        if stream is None:
            stream = tail_changelog(spark, events_dir, value_type, max_files_per_trigger)
        query = self.start(stream, checkpoint_dir, available_now=True)
        query.awaitTermination(timeout_sec)
        if query.isActive:
            query.stop()
            raise TimeoutError(f"ingest did not drain within {timeout_sec}s")
        if query.exception() is not None:
            raise query.exception()
        return list(self.epoch_stats)
