"""End-to-end smoke of the spark-submit CLI surface (main.py).

``test_cli_ingest_compact_expire`` drives the deployment shape the north
rule specifies — a separate driver process per invocation, exactly how
`spark-submit --py-files` runs it — through streaming ingest → sort-order
compaction → snapshot expiry. Every other test runs its CLI steps through
``main.main(argv)`` in the test process, on the shared session, so each
step costs no JVM start. All of them validate the final table state
against an independent derivation from the same log.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runtime settings that main.build_session applies to a running session
_SESSION_CONF = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def _main_cli(spark, *args: str) -> str:
    """Run one CLI invocation in this process and return its last stdout
    line (the JSON summary). ``build_session`` gets the test session back,
    so the settings it changes on it are restored afterwards."""
    from kafka_connect_plugins_spark import main

    conf = {k: spark.conf.get(k) for k in _SESSION_CONF}
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = main.main(list(args))
    finally:
        for k, v in conf.items():
            spark.conf.set(k, v)
    assert rc == 0
    return out.getvalue().strip().splitlines()[-1]


def _run_cli(*args: str) -> str:
    """Run one CLI invocation as its own driver process (own JVM)."""
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-m", "kafka_connect_plugins_spark.main", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=420,
    )
    assert proc.returncode == 0, f"CLI failed:\n{proc.stderr[-3000:]}"
    # last stdout line is the JSON summary; Spark logs go to stderr
    return proc.stdout.strip().splitlines()[-1]


@pytest.mark.slow
def test_cli_ingest_compact_expire(spark, tmp_path):
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    ckpt_dir = str(tmp_path / "ckpt")
    changelog(spark, 5000, num_repos=10, paths_per_repo=40).write.parquet(log_dir)

    # 1) ingest the log in a fresh driver process
    summary = json.loads(
        _run_cli(
            "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
            "--create", "--available-now",
            "--master", "local[4]", "--shuffle-partitions", "8",
        )
    )
    assert summary["events"] == 5000 and summary["epochs"] >= 1
    assert summary["high_watermarks"]  # lineage recorded per partition

    # 2) re-cluster every bucket on _lsn in a second process
    maint = json.loads(
        _run_cli(
            "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
            "--compact-sort-by", "_lsn", "--master", "local[4]",
        )
    )
    assert maint["compacted_buckets"] > 0

    # 3) expire old snapshots in a third process
    exp = json.loads(
        _run_cli(
            "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
            "--expire-keep", "1", "--master", "local[4]",
        )
    )
    assert exp["manifests_removed"] >= 1

    # 4) validate final state in-process against an independent LWW oracle
    t = LakeTable.load(spark, table_dir)
    m = t.manifest()
    assert m["summary"]["sort_order"] == ["_lsn"]
    assert maint["compacted_buckets"] == len(m["buckets"])
    got = {
        (r["repo"], r["path"]): (r["commit"], r["_lsn"])
        for r in t.read().collect()
    }
    ev = spark.read.parquet(log_dir)
    win = (
        ev.groupBy("key")
        .agg(F.max_by(F.struct("offset", "value"), F.col("offset")).alias("w"))
        .select("key", "w.offset", "w.value")
        # a key is live iff its last event is neither a wire tombstone
        # (null value) nor a soft delete (deleted_at set -> SMT tombstone)
        .filter(F.col("value").isNotNull() & F.col("value.deleted_at").isNull())
    )
    want = {
        (r["value"]["repo"], r["value"]["path"]): (r["value"]["commit"], r["offset"])
        for r in win.collect()
    }
    assert got == want
    assert summary["final_rows"] == len(want)


@pytest.mark.slow
def test_cli_available_now_rerun_is_exactly_once(spark, tmp_path):
    """--available-now drains the log once: a second drain with the same
    checkpoint applies no event and leaves the table state unchanged, and
    that state matches the independent LWW derivation from the log."""
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    ckpt_dir = str(tmp_path / "ckpt")
    changelog(spark, 5000, num_repos=10, paths_per_repo=40).write.parquet(log_dir)
    drain = (
        "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
        "--create", "--available-now", "--master", "local[4]",
        "--shuffle-partitions", "8",
    )
    digest = ("--table", table_dir, "--state-digest", "--master", "local[4]")

    summary = json.loads(_main_cli(spark, *drain))
    assert summary["epochs"] >= 1 and summary["skipped_epochs"] == 0
    assert summary["events"] == 5000
    first = json.loads(_main_cli(spark, *digest))["state_digest"]

    # re-running the same drain is exactly-once: the checkpoint has every
    # log file committed, so no epoch applies an event
    again = json.loads(_main_cli(spark, *drain))
    assert again["events"] == 0
    assert again["final_rows"] == summary["final_rows"]
    assert json.loads(_main_cli(spark, *digest))["state_digest"] == first

    # final state matches the independent LWW derivation from the log
    t = LakeTable.load(spark, table_dir)
    got = {(r["repo"], r["path"]) for r in t.read().collect()}
    ev = spark.read.parquet(log_dir)
    win = (
        ev.groupBy("key")
        .agg(F.max_by(F.struct("offset", "value"), F.col("offset")).alias("w"))
        .select("w.value")
        .filter(F.col("value").isNotNull() & F.col("value.deleted_at").isNull())
    )
    want = {(r["value"]["repo"], r["value"]["path"]) for r in win.collect()}
    assert got == want and summary["final_rows"] == len(want)


@pytest.mark.slow
def test_cli_lookup_and_rebucket(spark, tmp_path):
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    ckpt_dir = str(tmp_path / "ckpt")
    changelog(spark, 3000, num_repos=8, paths_per_repo=30).write.parquet(log_dir)
    _main_cli(
        spark,
        "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
        "--create", "--available-now", "--buckets", "16",
        "--master", "local[4]", "--shuffle-partitions", "8",
    )

    probe = LakeTable.load(spark, table_dir).read().first()
    key = {"repo": probe["repo"], "path": probe["path"]}

    # point lookup through the CLI
    row = json.loads(
        _main_cli(
            spark,
            "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
            "--lookup", json.dumps(key), "--master", "local[4]",
        )
    )
    assert (row["repo"], row["path"]) == (probe["repo"], probe["path"])
    assert row["commit"] == probe["commit"]

    # rebucket 16 -> 4, then the same lookup still works
    maint = json.loads(
        _main_cli(
            spark,
            "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
            "--rebucket", "4", "--master", "local[4]",
        )
    )
    assert 0 < maint["rebucketed_buckets"] <= 4
    row2 = json.loads(
        _main_cli(
            spark,
            "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
            "--lookup", json.dumps(key), "--master", "local[4]",
        )
    )
    assert row2 == row


@pytest.mark.slow
def test_cli_view_refresh(spark, tmp_path):
    """--view attaches a maintained aggregate to an ingest run; --refresh-view
    is the standalone maintenance form (no --events/--checkpoint needed)."""
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    view_dir = str(tmp_path / "view")
    changelog(spark, 3000, num_repos=6, paths_per_repo=30).write.parquet(log_dir)
    spec = json.dumps(
        {"dir": view_dir, "group": ["repo"], "measures": {"bytes": "length(content)"}}
    )

    summary = json.loads(
        _main_cli(
            spark,
            "--events", log_dir, "--table", table_dir,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--create", "--available-now", "--view", spec,
            "--master", "local[4]", "--shuffle-partitions", "4",
        )
    )
    assert summary["events"] == 3000

    # the view tracked the final table version during ingest
    meta = json.loads(open(os.path.join(view_dir, "_CURRENT")).read())
    table = LakeTable.load(spark, table_dir)
    assert meta["table_version"] == table.manifest()["version"]
    got = {
        r.repo: r.bytes
        for r in spark.read.parquet(os.path.join(view_dir, meta["dir"])).collect()
    }
    want = {
        r.repo: r.bytes
        for r in table.read()
        .groupBy("repo")
        .agg(F.sum(F.length("content")).alias("bytes"))
        .collect()
    }
    assert got == want

    # a standalone refresh is a no-op at the same version
    meta2 = json.loads(
        _main_cli(
            spark,
            "--table", table_dir, "--view", spec, "--refresh-view",
            "--master", "local[4]",
        )
    )
    assert meta2 == meta


@pytest.mark.slow
def test_cli_bootstrap_branch_publish(spark, tmp_path):
    """Snapshot bootstrap + write-audit-publish, each step its own CLI
    invocation: bootstrap main, stage the tail on a branch, audit it, publish."""
    from kafka_connect_plugins_spark.engine import create_repo_table, replay
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    events = changelog(spark, 3000, num_repos=8, paths_per_repo=30)
    split = 1800
    # materialize a consistent snapshot at `split` + the tail event log
    snap_src = create_repo_table(spark, str(tmp_path / "snapsrc"), num_buckets=8)
    replay(snap_src, events.filter(F.col("offset") <= split))
    snap_dir = str(tmp_path / "snapshot")
    snap_src.read().write.parquet(snap_dir)
    tail_dir = str(tmp_path / "tail")
    events.filter(F.col("offset") > split).write.parquet(tail_dir)
    table_dir = str(tmp_path / "table")

    # 1) bootstrap an empty table from the snapshot
    create_repo_table(spark, table_dir, num_buckets=8)
    boot = json.loads(
        _main_cli(
            spark,
            "--table", table_dir, "--bootstrap", snap_dir,
            "--bootstrap-lsn", str(split),
            "--master", "local[4]", "--shuffle-partitions", "8",
        )
    )
    assert boot["source_rows"] > 0 and not boot["skipped"]

    # 2) fork a staging branch, ingest the tail INTO THE BRANCH
    json.loads(_main_cli(spark, "--table", table_dir, "--create-branch", "audit",
                         "--master", "local[4]"))
    # the tail is its own stream: epoch guards are per stream, and the
    # bootstrap committed epoch 0 of stream "default"
    json.loads(
        _main_cli(
            spark,
            "--events", tail_dir, "--table", table_dir, "--branch", "audit",
            "--checkpoint", str(tmp_path / "ckpt"), "--stream-id", "tail",
            "--available-now",
            "--master", "local[4]", "--shuffle-partitions", "8",
        )
    )

    # 3) audit: main is still the bare snapshot; the branch has the tail
    table = LakeTable.load(spark, table_dir)
    main_rows = table.read().count()
    branch_rows = table.read(ref="audit").count()
    assert branch_rows != main_rows or (
        table._head_version("audit") > table._head_version("main")
    )

    # 4) publish, then verify final state == an independent full replay
    pub = json.loads(_main_cli(spark, "--table", table_dir, "--publish", "audit",
                               "--master", "local[4]"))
    assert pub["published_version"] == LakeTable.load(
        spark, table_dir
    ).manifest()["version"]
    oracle = create_repo_table(spark, str(tmp_path / "oracle"), num_buckets=8)
    replay(oracle, events)
    want = {
        (r["repo"], r["path"]): r["content"] for r in oracle.read().collect()
    }
    got = {
        (r["repo"], r["path"]): r["content"]
        for r in LakeTable.load(spark, table_dir).read().collect()
    }
    assert got == want


@pytest.mark.slow
def test_cli_refuses_fresh_checkpoint_under_used_stream_id(spark, tmp_path, capsys):
    """An ingest with a new checkpoint under the stream id the bootstrap
    committed epoch 0 to would skip the tail's batch 0 as a replay: the CLI
    exits non-zero before it ingests, and the table stays as it was."""
    from kafka_connect_plugins_spark.engine import create_repo_table
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    events = changelog(spark, 600, num_repos=4, paths_per_repo=20)
    snap_dir = str(tmp_path / "snapshot")
    events.filter(F.col("offset") <= 300).select(
        "value.repo", "value.path", "value.commit", "value.lang", "value.content"
    ).dropDuplicates(["repo", "path"]).write.parquet(snap_dir)
    tail_dir = str(tmp_path / "tail")
    events.filter(F.col("offset") > 300).write.parquet(tail_dir)
    table_dir = str(tmp_path / "table")
    create_repo_table(spark, table_dir, num_buckets=4)
    _main_cli(
        spark, "--table", table_dir, "--bootstrap", snap_dir,
        "--bootstrap-lsn", "300", "--master", "local[4]",
    )
    version = LakeTable.load(spark, table_dir).manifest()["version"]

    with pytest.raises(SystemExit) as exc:
        _main_cli(
            spark, "--events", tail_dir, "--table", table_dir,
            "--checkpoint", str(tmp_path / "ckpt"), "--available-now",
            "--master", "local[4]",
        )
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "'default'" in err and "epoch 0" in err and "--stream-id" in err
    assert LakeTable.load(spark, table_dir).manifest()["version"] == version


@pytest.mark.slow
def test_cli_rollback_to_version_zero(spark, tmp_path):
    """``--rollback 0`` is a maintenance command like any other version:
    0 is falsy, but it still counts as given, so the run needs only
    --table and commits the rollback."""
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable

    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=4)
    for epoch in range(2):
        t.merge(
            spark.range(10).select(
                F.col("id"), F.lit(epoch).cast("long").alias("_lsn"),
                F.lit(False).alias("_tombstone"), F.lit("x").alias("c"),
            ),
            epoch_id=epoch,
        )
    head = t.manifest()["version"]
    assert head > 0
    out = json.loads(_main_cli(
        spark, "--table", root, "--rollback", "0", "--master", "local[4]",
    ))
    assert out["rollback_version"] == head + 1
    m = LakeTable.load(spark, root).manifest()
    assert m["version"] == head + 1
    assert m["summary"]["rolled_back_to"] == 0
    # version 0 is the empty table: no bucket files, no epoch guards
    assert m["buckets"] == {} and m["epochs"] == {}


def test_cli_mutations_and_vacuum(spark, tmp_path):
    """--delete-where / --update-where / --remove-orphans: the compliance and
    storage-hygiene maintenance verbs, each its own CLI invocation."""
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    ckpt_dir = str(tmp_path / "ckpt")
    changelog(spark, 3000, num_repos=8, paths_per_repo=30).write.parquet(log_dir)
    _main_cli(
        spark,
        "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
        "--create", "--available-now", "--buckets", "16",
        "--master", "local[4]", "--shuffle-partitions", "8",
    )

    t = LakeTable.load(spark, table_dir)
    victim = t.read().groupBy("repo").count().orderBy("repo").first()

    # redact one repo's contents, then erase it entirely
    upd = json.loads(
        _main_cli(
            spark,
            "--table", table_dir, "--update-where", f"repo = '{victim['repo']}'",
            "--set", json.dumps({"content": "'[redacted]'"}),
            "--master", "local[4]",
        )
    )
    assert upd["update"]["rows_matched"] == victim["count"]
    dele = json.loads(
        _main_cli(
            spark,
            "--table", table_dir, "--delete-where", f"repo = '{victim['repo']}'",
            "--master", "local[4]",
        )
    )
    assert dele["delete"]["rows_matched"] == victim["count"]

    # fabricate a crashed write, then vacuum it (grace 0: remove immediately)
    orphan = os.path.join(table_dir, "data", "v9999")
    os.makedirs(orphan)
    vac = json.loads(
        _main_cli(
            spark,
            "--table", table_dir, "--remove-orphans", "--orphan-grace-sec", "0",
            "--master", "local[4]",
        )
    )
    assert vac["orphans"]["removed"] == [9999]

    final = LakeTable.load(spark, table_dir).read()
    assert final.filter(F.col("repo") == victim["repo"]).count() == 0
    assert final.count() > 0


@pytest.mark.slow
def test_cli_merge_into_describe_history(spark, tmp_path):
    """--merge-into (clause-form MERGE from a parquet source) plus the
    metadata-only observability verbs --describe / --history, each its own
    CLI invocation."""
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.sources.changelog import changelog

    log_dir = str(tmp_path / "log")
    table_dir = str(tmp_path / "table")
    ckpt_dir = str(tmp_path / "ckpt")
    changelog(spark, 3000, num_repos=8, paths_per_repo=30).write.parquet(log_dir)
    _main_cli(
        spark,
        "--events", log_dir, "--table", table_dir, "--checkpoint", ckpt_dir,
        "--create", "--available-now", "--buckets", "16",
        "--master", "local[4]", "--shuffle-partitions", "8",
    )

    t = LakeTable.load(spark, table_dir)
    rows = t.read().orderBy("repo", "path").limit(2).collect()
    upd_key, del_key = rows[0], rows[1]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (upd_key["repo"], upd_key["path"], "upsert", "[patched]"),
            (del_key["repo"], del_key["path"], "delete", None),
            ("brand/new", "fresh.py", "upsert", "[fresh]"),
        ],
        "repo string, path string, op string, content string",
    ).write.parquet(src_dir)

    out = json.loads(
        _main_cli(
            spark,
            "--table", table_dir, "--merge-into", src_dir,
            "--matched-update", json.dumps({"content": "src.content"}),
            "--matched-update-cond", "src.op = 'upsert'",
            "--matched-delete-cond", "src.op = 'delete'",
            "--not-matched-cond", "src.op = 'upsert'",
            "--master", "local[4]",
        )
    )["merge_into"]
    assert out["rows_updated"] == 1 and out["rows_deleted"] == 1
    assert out["rows_inserted"] == 1 and out["buckets_rewritten"] >= 1

    state = {
        (r["repo"], r["path"]): r["content"]
        for r in LakeTable.load(spark, table_dir).read().collect()
    }
    assert state[(upd_key["repo"], upd_key["path"])] == "[patched]"
    assert state[("brand/new", "fresh.py")] == "[fresh]"
    assert (del_key["repo"], del_key["path"]) not in state

    # metadata-only verbs
    desc = json.loads(
        _main_cli(spark, "--table", table_dir, "--describe", "--master", "local[4]")
    )["describe"]
    assert desc["physical_rows"] > 0 and desc["num_buckets"] == 16
    assert desc["rows_per_bucket"]["skew_max_over_median"] >= 1.0
    hist = json.loads(
        _main_cli(spark, "--table", table_dir, "--history", "--master", "local[4]")
    )["history"]
    assert hist[0]["summary"]["op"] == "merge_into"
    assert hist[0]["summary"]["rows_inserted"] == 1
    assert [e["version"] for e in hist] == sorted(
        (e["version"] for e in hist), reverse=True
    )


@pytest.mark.slow
def test_cli_replicate(spark, tmp_path):
    """--replicate-to through the CLI: bootstrap sync with
    digest verification, then an idempotent re-run."""
    from pyspark.sql import functions as F

    from kafka_connect_plugins_spark.plans.lake_table import LakeTable

    root = str(tmp_path / "src")
    t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=4)
    t.merge(
        spark.range(100).select(
            F.col("id"), F.col("id").alias("_lsn"),
            F.lit(False).alias("_tombstone"), F.lit("x").alias("c"),
        ),
        epoch_id=0,
    )
    rep = str(tmp_path / "rep")
    out = json.loads(_main_cli(
        spark,
        "--table", root, "--replicate-to", rep, "--verify-replica",
        "--replica-buckets", "2",
        "--master", "local[4]", "--shuffle-partitions", "4",
    ))["replicate"]
    assert out["verified"] and out["rows_applied"] == 100
    again = json.loads(_main_cli(
        spark,
        "--table", root, "--replicate-to", rep,
        "--master", "local[4]", "--shuffle-partitions", "4",
    ))["replicate"]
    assert again["skipped"] and again["rows_applied"] == 0
    assert LakeTable.load(spark, rep).manifest()["num_buckets"] == 2
