"""Per-epoch / per-partition ingest metrics.

The reference's observability story is per-record fail-fast logging plus
external dashboards (RedShiftComplexDataTypeTransformer.kt:47-55,
DEPLOY.md:97). The north rule upgrades this to first-class per-partition
lineage + throughput metrics; here they are a JSONL log written once per
microbatch epoch (driver-side, O(partitions) bytes — never per record).
Spark's own per-trigger progress stays on the query (``recentProgress``).
"""

from __future__ import annotations

import json
import os
import time

from kafka_connect_plugins_spark.plans.lake_table import MergeStats


class MetricsLog:
    """Append-only JSONL epoch log: one line per applied (or skipped) epoch.

    Each line carries the stream id, epoch id, event count, the winner-key
    count (``rows_written``), merge timings (total ``seconds`` and the
    per-phase ``phases`` walls), events/sec, and the per-source-partition
    lineage ``{partition: {events, max_lsn}}`` — the CDC log-position record
    that lets an operator answer "how far has partition 3 been applied?"
    without scanning data.
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def record(self, stream_id: str, stats: MergeStats) -> dict:
        entry = {
            "ts_ms": int(time.time() * 1000),
            "stream_id": stream_id,
            "epoch_id": stats.epoch_id,
            "skipped": stats.skipped,
            "source_rows": stats.source_rows,
            "rows_written": stats.rows_written,
            "dirty_buckets": stats.dirty_buckets,
            "total_buckets": stats.total_buckets,
            "schema_added_columns": stats.schema_added_columns,
            "seconds": round(stats.seconds, 3),
            "phases": dict(stats.phases),
            "events_per_sec": round(stats.source_rows / stats.seconds)
            if stats.seconds > 0 and not stats.skipped
            else 0,
            "lineage": {str(k): v for k, v in sorted(stats.lineage.items())},
        }
        with open(self.path, "a") as f:
            f.write(json.dumps(entry, sort_keys=True) + "\n")
        return entry

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def high_watermarks(self, stream_id: str | None = None) -> dict[str, int]:
        """Max applied LSN per source partition across all recorded epochs."""
        hw: dict[str, int] = {}
        for e in self.entries():
            if stream_id is not None and e["stream_id"] != stream_id:
                continue
            for p, v in e.get("lineage", {}).items():
                hw[p] = max(hw.get(p, -1), int(v["max_lsn"]))
        return hw

