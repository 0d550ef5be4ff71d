"""Profile one merge epoch per parallelism level with event-log stage metrics.

Why: BENCH_r01 showed local-cluster[4,8] ABSOLUTELY slower than
local-cluster[1,8], and local-cluster[1,8] 1.8x slower than local[8] at the
same core count. This tool runs one identical epoch per level with
``spark.eventLog.enabled`` and prints per-stage wall time, executor-cpu,
GC, shuffle bytes and input bytes, so the inflated stage is identified by
measurement instead of guesswork.

Usage: python tools/profile_scaling.py [events_millions] [level ...]
Levels: local8 local32 lc1 lc4  (default: local8 lc1 lc4)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
EVENTS_DIR = os.path.join(SHM, "kcp_profile_events")


def build(level: str, eventlog_dir: str):
    import pyspark
    from pyspark.sql import SparkSession

    os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
    worker_mb = int(os.environ.get("KCP_WORKER_MB", "10240"))
    masters = {
        "local8": ("local[8]", 8),
        "local32": ("local[32]", 32),
        "lc1": (f"local-cluster[1,8,{worker_mb}]", 8),
        "lc4": (f"local-cluster[4,8,{worker_mb}]", 32),
    }
    master, cores = masters[level]
    # Standalone (local-cluster) executors IGNORE spark.local.dir: the worker
    # hands them SPARK_LOCAL_DIRS (or /tmp). Export it so inter-process
    # shuffle stays on tmpfs like thread-mode's.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SHM, "kcp_profile_local")
    b = (
        SparkSession.builder.master(master)
        .appName(f"profile-{level}")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(SHM, "kcp_profile_local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{eventlog_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    if level.startswith("lc"):
        b = (
            b.config("spark.driver.memory", "8g")
            .config("spark.executor.memory", os.environ.get("KCP_EXEC_MEM", "9216m"))
            .config(
                "spark.executor.extraJavaOptions",
                os.environ.get(
                    "KCP_EXEC_OPTS",
                    # no CICompilerCount cap: a single C2 thread starves JIT of
                    # the big codegen methods (profiled 5.4x slower epochs)
                    "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
                ),
            )
        )
    else:
        b = b.config("spark.driver.memory", "24g")
    return b.getOrCreate()


def gen_events(total: int) -> None:
    from kafka_connect_plugins_spark.sources.changelog import changelog

    marker = os.path.join(EVENTS_DIR, f"_N{total}")
    if os.path.exists(marker):
        return
    shutil.rmtree(EVENTS_DIR, ignore_errors=True)
    spark = build("local32", tempfile.mkdtemp(prefix="el_", dir=SHM))
    changelog(spark, total, num_repos=200, paths_per_repo=500, num_partitions=64).write.mode(
        "overwrite"
    ).parquet(EVENTS_DIR)
    spark.stop()
    open(marker, "w").close()


def parse_eventlog(path: str) -> list[dict]:
    stages = {}
    exec_adds = []
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                # StageCompleted arrives AFTER its TaskEnds — update in place,
                # never overwrite the accumulated task metrics.
                si = ev["Stage Info"]
                s = stages.setdefault(si["Stage ID"], {
                    "stage": si["Stage ID"], "name": "?", "tasks": 0, "wall_s": 0,
                    "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "ser_s": 0.0,
                    "fetch_s": 0.0, "write_s": 0.0, "input_mb": 0.0,
                    "sh_read_mb": 0.0, "sh_write_mb": 0.0, "spill_mb": 0.0,
                })
                s["name"] = si["Stage Name"].split("\n")[0][:60]
                s["tasks"] = si["Number of Tasks"]
                s["wall_s"] = round(
                    (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000, 1
                )
            elif ev.get("Event") == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stages:
                    stages[sid] = {
                        "stage": sid, "name": "?", "tasks": 0, "wall_s": 0,
                        "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "ser_s": 0.0,
                        "fetch_s": 0.0, "write_s": 0.0, "input_mb": 0.0,
                        "sh_read_mb": 0.0, "sh_write_mb": 0.0, "spill_mb": 0.0,
                    }
                s = stages[sid]
                # Spark 4 event logs carry task metrics as internal.metrics.*
                # accumulable updates, not a "Task Metrics" object.
                acc = {
                    a["Name"]: float(a.get("Update", 0))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                    if a.get("Name", "").startswith("internal.metrics.")
                }
                g = lambda k: acc.get(f"internal.metrics.{k}", 0.0)
                s["cpu_s"] += g("executorCpuTime") / 1e9
                s["run_s"] += g("executorRunTime") / 1e3
                s["gc_s"] += g("jvmGCTime") / 1e3
                s["ser_s"] += (g("executorDeserializeTime") + g("resultSerializationTime")) / 1e3
                s["fetch_s"] += g("shuffle.read.fetchWaitTime") / 1e3
                s["write_s"] += g("shuffle.write.writeTime") / 1e9
                s["input_mb"] += g("input.bytesRead") / 1e6
                s["sh_read_mb"] += (
                    g("shuffle.read.localBytesRead") + g("shuffle.read.remoteBytesRead")
                ) / 1e6
                s["sh_write_mb"] += g("shuffle.write.bytesWritten") / 1e6
                s["spill_mb"] += (g("memoryBytesSpilled") + g("diskBytesSpilled")) / 1e6
            elif ev.get("Event") == "SparkListenerExecutorAdded":
                exec_adds.append(ev.get("Timestamp"))
    return sorted(stages.values(), key=lambda s: s["stage"])


def run_level(level: str, tmp: str) -> None:
    from pyspark.sql import functions as F

    from kafka_connect_plugins_spark.engine import apply_batch, create_repo_table

    eventlog_dir = os.path.join(tmp, f"el_{level}")
    os.makedirs(eventlog_dir, exist_ok=True)
    spark = build(level, eventlog_dir)
    app_id = spark.sparkContext.applicationId
    events = spark.read.parquet(EVENTS_DIR)
    table = create_repo_table(spark, os.path.join(tmp, f"tbl_{level}"), num_buckets=64)
    # warmup epoch (codegen/JIT), then the measured epoch
    apply_batch(table, events.filter(F.col("offset") < 1_000_000), epoch_id=0, stream_id="p")
    t0 = time.time()
    st = apply_batch(
        table,
        events.filter(F.col("offset") >= 1_000_000),
        epoch_id=1,
        stream_id="p",
    )
    wall = time.time() - t0
    spark.stop()
    time.sleep(1)
    print(f"\n=== {level}: {st.source_rows} events in {wall:.1f}s = "
          f"{st.source_rows / wall:,.0f} ev/s ===")
    # Spark 4 writes a rolling dir eventlog_v2_<appId>/events_*
    cands = [p for p in os.listdir(eventlog_dir) if app_id in p]
    if not cands:
        print("  (no event log found)")
        return
    log_path = os.path.join(eventlog_dir, cands[0])
    if os.path.isdir(log_path):
        parts = sorted(p for p in os.listdir(log_path) if p.startswith("events_"))
        rows = []
        merged = {}
        for part in parts:
            for s in parse_eventlog(os.path.join(log_path, part)):
                if s["stage"] in merged:
                    for k, v in s.items():
                        if isinstance(v, float):
                            merged[s["stage"]][k] += v
                        elif k in ("name", "tasks", "wall_s") and v:
                            merged[s["stage"]][k] = v
                else:
                    merged[s["stage"]] = s
        rows = sorted(merged.values(), key=lambda s: s["stage"])
    else:
        rows = parse_eventlog(log_path)
    hdr = ("stage", "tasks", "wall_s", "run_s", "cpu_s", "gc_s", "ser_s", "fetch_s",
           "write_s", "input_mb", "sh_read_mb", "sh_write_mb", "spill_mb")
    print(" | ".join(f"{h:>10}" for h in hdr) + " | name")
    for s in rows:
        if s["wall_s"] < 0.3 and s["run_s"] < 1:
            continue
        print(" | ".join(f"{round(s[h], 1):>10}" for h in hdr) + f" | {s['name']}")


def main() -> None:
    millions = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    levels = sys.argv[2:] or ["local8", "lc1", "lc4"]
    gen_events((millions + 1) * 1_000_000)
    tmp = tempfile.mkdtemp(prefix="kcp_profile_", dir=SHM)
    try:
        for level in levels:
            run_level(level, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
