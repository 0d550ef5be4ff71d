"""Per-query isolation bench (guide §1.4) — NOT the driver artifact.

Replicates bench.py's session (local[$SPARK_GRAFT_CPUS], same confs) and
times each ``__spark_entry__.queries()`` entry through the noop sink,
optionally capturing ``.explain("formatted")`` per query. Used to measure
optimization work at any SF without touching the frozen bench.py.

Usage:
  python bench_extra.py [--sf /root/testdata/sf1.0] [--passes 2]
                        [--explain-dir plans/r06] [--suffix _before]
                        [query ...]

Prints one JSON line: {"sf": ..., "queries": {name: best_sec}, "total": ...}.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else None
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _session(cores: int):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-extra-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # as in bench.py: keeps the object aggregates of doc_length_percentiles
        # and token_postings hash-based; the merge's LWW does not use it
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304"
        )
        .config("spark.driver.memory", "24g")
    )
    if SHM:
        b = b.config("spark.local.dir", os.path.join(SHM, "kcp_bench_spark_local"))
    return b.getOrCreate()


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf1.0"
    passes = 2
    explain_dir = None
    suffix = ""
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--passes":
            passes = int(args[i + 1]); i += 2
        elif a == "--explain-dir":
            explain_dir = args[i + 1]; i += 2
        elif a == "--suffix":
            suffix = args[i + 1]; i += 2
        else:
            names.append(a); i += 1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry

    spark = _session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if names:
        qs = {n: qs[n] for n in names}

    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)

    times: dict[str, float] = {}
    for rnd in range(passes):
        for name, fn in qs.items():
            spark.sparkContext.setJobDescription(f"{name} pass{rnd}")
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"{name} pass{rnd} FAILED: {exc!r}", file=sys.stderr)
                times.setdefault(name, -1.0)
                continue
            dt = round(time.time() - t0, 3)
            prev = times.get(name, float("inf"))
            times[name] = dt if prev < 0 else min(prev, dt)
            print(f"{name} pass{rnd}: {dt}s", file=sys.stderr, flush=True)
            if explain_dir and rnd == 0:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    fn(spark, sf_dir).explain("formatted")
                with open(os.path.join(explain_dir, f"{name}{suffix}.txt"), "w") as f:
                    f.write(buf.getvalue())

    total = round(sum(t for t in times.values() if t > 0), 2)
    print(json.dumps({"sf": sf_dir, "queries": times, "total": total}))


if __name__ == "__main__":
    main()
