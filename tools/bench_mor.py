"""Measure the merge-on-read READ path: snapshot-read latency as a function
of pending delta count, plus the compact() fold cost.

``merge(mode="defer")`` makes epochs O(batch) by appending winner deltas;
the price is paid at READ time, where delta-bearing buckets LWW-collapse
base ∪ deltas (plans/lake_table._read_buckets). This tool quantifies that
price so ``compact_files_per_bucket`` (default 4) is a measured bound, not
a guess:

  1. build a base table (rewrite merge) of ``--keys`` keys;
  2. apply N defer epochs (N = 0..max_deltas), timing a full snapshot read
     (noop sink, best-of-``--rounds``) after each;
  3. time compact() folding all pending deltas, and the post-compact read.

Prints one JSON line; paste the table into BENCH.md.

Usage: python tools/bench_mor.py [--events-per-epoch 2000000] [--max-deltas 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events-per-epoch", type=int, default=2_000_000)
    p.add_argument("--max-deltas", type=int, default=4)
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_connect_plugins_spark.engine import apply_batch, create_repo_table
    from kafka_connect_plugins_spark.sources.changelog import changelog

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("bench-mor")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(SHM, "kcp_mor_spark_local"))
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="kcp_mor_", dir=SHM)
    total = args.events_per_epoch * (args.max_deltas + 2)
    print(f"generating {total} events", file=sys.stderr)
    events_path = os.path.join(tmp, "events")
    # many keys so the read path has real volume (not just winner rows)
    changelog(
        spark, total, num_repos=2000, paths_per_repo=1000, num_partitions=args.cpus * 2
    ).write.parquet(events_path)
    ev = spark.read.parquet(events_path)

    table = create_repo_table(spark, os.path.join(tmp, "table"), num_buckets=64)

    def read_time() -> float:
        best = float("inf")
        for _ in range(args.rounds):
            t0 = time.time()
            table.read().write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return round(best, 2)

    epoch = args.events_per_epoch
    # epoch 0: base rewrite
    st = apply_batch(table, ev.filter(F.col("offset") < epoch), epoch_id=0, stream_id="mor")
    base_rows = table.read().count()
    out = {
        "events_per_epoch": epoch,
        "base_rows": base_rows,
        "reads": [],
    }
    out["reads"].append({"pending_deltas": 0, "read_sec": read_time()})
    print(f"base: {base_rows} rows, read {out['reads'][-1]['read_sec']}s", file=sys.stderr)

    for n in range(1, args.max_deltas + 1):
        lo, hi = n * epoch, (n + 1) * epoch
        t0 = time.time()
        st = apply_batch(
            table,
            ev.filter((F.col("offset") >= lo) & (F.col("offset") < hi)),
            epoch_id=n,
            stream_id="mor",
            merge_mode="defer",
        )
        merge_sec = round(time.time() - t0, 2)
        r = {"pending_deltas": n, "defer_merge_sec": merge_sec, "read_sec": read_time()}
        out["reads"].append(r)
        print(f"deltas={n}: merge {merge_sec}s, read {r['read_sec']}s", file=sys.stderr)

    t0 = time.time()
    folded = table.compact()
    out["compact_sec"] = round(time.time() - t0, 2)
    out["compacted_buckets"] = folded
    out["post_compact_read_sec"] = read_time()
    # reference: a rewrite-mode epoch of the same size on the compacted table
    lo = (args.max_deltas + 1) * epoch
    t0 = time.time()
    apply_batch(
        table,
        ev.filter((F.col("offset") >= lo) & (F.col("offset") < lo + epoch)),
        epoch_id=args.max_deltas + 1,
        stream_id="mor",
    )
    out["rewrite_epoch_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
