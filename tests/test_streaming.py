"""Structured-Streaming ingest: drain-matches-oracle, checkpoint resume,
exactly-once under epoch replay, and per-partition lineage metrics."""

from pyspark.sql import functions as F

from kafka_connect_plugins_spark.engine import create_repo_table
from kafka_connect_plugins_spark.plans.lake_table import LakeTable
from kafka_connect_plugins_spark.sources.changelog import changelog, expected_final_state
from kafka_connect_plugins_spark.streaming import MetricsLog, StreamingIngest

N_EVENTS = 3000


def _state_hashes(df):
    rows = df.select("repo", "path", F.sha2(F.col("content"), 256).alias("h")).collect()
    return {(r["repo"], r["path"]): r["h"] for r in rows}


def _write_log(events, path, n_files):
    events.repartitionByRange(n_files, "offset").write.mode("append").parquet(path)


def test_stream_drain_matches_oracle(spark, tmp_path):
    events = changelog(spark, N_EVENTS, num_repos=8, paths_per_repo=30)
    log_dir = str(tmp_path / "log")
    _write_log(events, log_dir, n_files=6)

    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=8)
    metrics = MetricsLog(str(tmp_path / "metrics.jsonl"))
    ingest = StreamingIngest(table, stream_id="s1", metrics=metrics)
    stats = ingest.run_available(
        spark, log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2, timeout_sec=120
    )

    # Multiple microbatch epochs actually ran, covering every event once.
    assert len(stats) >= 3
    assert sum(s.source_rows for s in stats) == N_EVENTS
    assert _state_hashes(table.read()) == _state_hashes(expected_final_state(events))

    # Lineage: per-partition applied-LSN high watermark matches the log.
    want_hw = {
        str(r["partition"]): r["hi"]
        for r in events.groupBy("partition").agg(F.max("offset").alias("hi")).collect()
    }
    assert metrics.high_watermarks("s1") == want_hw
    entries = metrics.entries()
    assert len(entries) == len(stats)
    assert all(e["events_per_sec"] > 0 for e in entries)


def test_checkpoint_resume_continues_from_offset(spark, tmp_path):
    events = changelog(spark, N_EVENTS, num_repos=8, paths_per_repo=30)
    half = N_EVENTS // 2
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    _write_log(events.filter(F.col("offset") < half), log_dir, n_files=3)

    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=8)
    first = StreamingIngest(table, stream_id="s")
    stats1 = first.run_available(spark, log_dir, ckpt, timeout_sec=120)
    assert sum(s.source_rows for s in stats1) == half

    # New files land in the log; a RESTARTED query (same checkpoint) picks up
    # only the tail — no reprocessing of already-committed files.
    _write_log(events.filter(F.col("offset") >= half), log_dir, n_files=3)
    resumed = StreamingIngest(LakeTable.load(spark, str(tmp_path / "t")), stream_id="s")
    stats2 = resumed.run_available(spark, log_dir, ckpt, timeout_sec=120)
    assert sum(s.source_rows for s in stats2) == N_EVENTS - half
    assert min(s.epoch_id for s in stats2) > max(s.epoch_id for s in stats1)

    assert _state_hashes(table.read()) == _state_hashes(expected_final_state(events))


def test_replayed_epoch_after_crash_is_skipped(spark, tmp_path):
    """Crash between table commit and checkpoint commit ⇒ Spark redelivers the
    batch under its original epoch id; the table's epoch guard makes the
    redelivery a no-op (exactly-once)."""
    events = changelog(spark, 1000, num_repos=6, paths_per_repo=20)
    log_dir = str(tmp_path / "log")
    _write_log(events, log_dir, n_files=2)

    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=8)
    ingest = StreamingIngest(table, stream_id="s")
    stats = ingest.run_available(spark, log_dir, str(tmp_path / "ckpt"), timeout_sec=120)
    version_before = table.manifest()["version"]
    last_epoch = max(s.epoch_id for s in stats)

    # Simulate the torn restart: the sink sees the same (stream, epoch) again.
    from kafka_connect_plugins_spark.engine import apply_batch

    redelivered = spark.read.parquet(log_dir)
    st = apply_batch(table, redelivered, epoch_id=last_epoch, stream_id="s")
    assert st.skipped
    assert table.manifest()["version"] == version_before
    assert _state_hashes(table.read()) == _state_hashes(expected_final_state(events))


def test_epoch_stats_stay_bounded_on_a_long_tail(spark, tmp_path):
    # a long-running tail records one MergeStats per trigger; the in-memory
    # list must keep only the newest entries, not grow for the life of the
    # process. Replays of a committed epoch only record skipped stats.
    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=4)
    table.merge(
        spark.range(3).select(
            F.col("id").cast("string").alias("repo"),
            F.lit("p").alias("path"),
            F.col("id").alias("_lsn"),
            F.lit(False).alias("_tombstone"),
        ),
        epoch_id=0,
        stream_id="s",
    )
    ingest = StreamingIngest(table, stream_id="s")
    for _ in range(1_100):
        ingest._apply(None, 0)
    assert len(ingest.epoch_stats) == 1_000
    assert all(st.skipped and st.epoch_id == 0 for st in ingest.epoch_stats)


def test_metrics_log_records_phases_and_rows_written(tmp_path):
    from kafka_connect_plugins_spark.plans.lake_table import MergeStats

    metrics = MetricsLog(str(tmp_path / "metrics.jsonl"))
    phases = {"stats": 0.2, "write": 1.5, "commit": 0.05}
    metrics.record(
        "s1",
        MergeStats(
            epoch_id=3, skipped=False, source_rows=40, rows_written=12,
            seconds=1.75, phases=phases,
        ),
    )
    (entry,) = metrics.entries()
    assert entry["phases"] == phases
    assert entry["rows_written"] == 12
