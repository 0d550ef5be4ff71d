"""Incremental view maintenance over the change feed (plans/incremental_view).

Invariant under test: for any sequence of merges, folding the preimage-
carrying change feed into the maintained aggregate reproduces the full
recomputation at every snapshot — insert, update (+post -pre), delete,
group disappearance, and group re-appearance included. The
``MaterializedView`` tests (streaming/view_refresh) check the persisted
view that ``StreamingIngest`` refreshes after every epoch.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.incremental_view import (
    IncrementalAggView,
    agg_delta,
    apply_agg_delta,
)
from kafka_connect_plugins_spark.plans.lake_table import LakeTable


def _merge(table, rows, epoch):
    df = table.spark.createDataFrame(
        rows,
        "repo string, path string, lang string, size long, _lsn long, _tombstone boolean",
    )
    return table.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=epoch)


def _as_map(df):
    return {r.lang: (r.total_size, r.n_rows) for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=8
    )


def test_preimages_emitted(table):
    _merge(table, [Row(repo="r", path="a", lang="py", size=10, _lsn=1, _tombstone=False)], 0)
    v1 = table.manifest()["version"]
    _merge(table, [Row(repo="r", path="a", lang="py", size=25, _lsn=2, _tombstone=False)], 1)
    v2 = table.manifest()["version"]
    rows = {
        r._change_type: r.size
        for r in table.read_changes(v1, v2, include_preimages=True).collect()
    }
    assert rows == {"update_preimage": 10, "update_postimage": 25}
    # default stays postimage-only (existing consumers unchanged)
    assert [r._change_type for r in table.read_changes(v1, v2).collect()] == [
        "update_postimage"
    ]


def test_incremental_matches_recompute_through_epochs(table):
    view = IncrementalAggView(
        table, ["lang"], {"total_size": F.col("size")}
    )
    epochs = [
        [  # bootstrap
            Row(repo="r", path="a", lang="py", size=10, _lsn=1, _tombstone=False),
            Row(repo="r", path="b", lang="py", size=20, _lsn=2, _tombstone=False),
            Row(repo="r", path="c", lang="go", size=5, _lsn=3, _tombstone=False),
        ],
        [  # update a (py 10->40), delete c (go group disappears), insert d
            Row(repo="r", path="a", lang="py", size=40, _lsn=10, _tombstone=False),
            Row(repo="r", path="c", lang=None, size=None, _lsn=11, _tombstone=True),
            Row(repo="r", path="d", lang="rs", size=7, _lsn=12, _tombstone=False),
        ],
        [  # re-insert c (go group reappears), update d across groups (rs->go)
            Row(repo="r", path="c", lang="go", size=9, _lsn=20, _tombstone=False),
            Row(repo="r", path="d", lang="go", size=8, _lsn=21, _tombstone=False),
        ],
    ]
    _merge(table, epochs[0], epoch=0)
    v_prev = table.manifest()["version"]
    state = view.full(v_prev)  # bootstrap = recompute at the first snapshot
    assert _as_map(state) == {"py": (30, 2), "go": (5, 1)}
    for i, rows in enumerate(epochs[1:], start=1):
        _merge(table, rows, epoch=i)
        v_now = table.manifest()["version"]
        state = view.advance(state, v_prev, v_now)
        assert _as_map(state) == _as_map(view.full(v_now)), f"epoch {i} diverged"
        v_prev = v_now
    # final view is concrete: py={a40,b20}, go={c9,d8}, rs gone
    assert _as_map(state) == {"py": (60, 2), "go": (17, 2)}


def test_agg_delta_signs(spark):
    changes = spark.createDataFrame(
        [
            Row(lang="py", size=10, _change_type="insert"),
            Row(lang="py", size=3, _change_type="update_preimage"),
            Row(lang="py", size=5, _change_type="update_postimage"),
            Row(lang="go", size=4, _change_type="delete"),
        ]
    )
    d = {r.lang: (r.total_size, r.n_rows) for r in agg_delta(
        changes, ["lang"], {"total_size": F.col("size")}
    ).collect()}
    # py: +10 (insert) -3 +5 (update) = 12, net rows +1; go: -4, rows -1
    assert d == {"py": (12, 1), "go": (-4, -1)}


def test_apply_drops_emptied_groups(spark):
    state = spark.createDataFrame([Row(lang="go", total_size=4, n_rows=1)])
    delta = spark.createDataFrame([Row(lang="go", total_size=-4, n_rows=-1)])
    out = apply_agg_delta(state, delta, ["lang"])
    assert out.count() == 0


def test_apply_rejects_mismatched_schema(spark):
    state = spark.createDataFrame([Row(lang="go", total_size=4, n_rows=1)])
    delta = spark.createDataFrame([Row(lang="go", other=1, n_rows=1)])
    with pytest.raises(ValueError, match="columns"):
        apply_agg_delta(state, delta, ["lang"])


def test_agg_delta_rejects_count_collision(spark):
    changes = spark.createDataFrame([Row(lang="py", size=1, _change_type="insert")])
    with pytest.raises(ValueError, match="collides with the row-count column"):
        agg_delta(changes, ["lang"], {"n_rows": F.col("size")})


def test_materialized_view_refresh(spark, tmp_path):
    from kafka_connect_plugins_spark.plans.incremental_view import IncrementalAggView
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.streaming.view_refresh import MaterializedView

    t = LakeTable.create(
        spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4
    )

    def merge(rows, e):
        df = spark.createDataFrame(
            rows, "repo string, path string, lang string, size long, _lsn long, _tombstone boolean"
        )
        t.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=e)

    view = MaterializedView(
        IncrementalAggView(t, ["lang"], {"total_size": F.col("size")}),
        str(tmp_path / "view"),
    )
    merge([Row(repo="r", path="a", lang="py", size=10, _lsn=1, _tombstone=False)], 0)
    m1 = view.refresh()  # bootstrap
    assert m1["table_version"] == t.manifest()["version"]
    assert {r.lang: r.total_size for r in view.read().collect()} == {"py": 10}

    merge([
        Row(repo="r", path="a", lang="py", size=25, _lsn=5, _tombstone=False),
        Row(repo="r", path="b", lang="go", size=3, _lsn=6, _tombstone=False),
    ], 1)
    view.refresh()  # incremental
    assert {r.lang: r.total_size for r in view.read().collect()} == {"py": 25, "go": 3}
    # idempotent no-op when already current
    before = view.meta()
    assert view.refresh() == before
    # matches recomputation
    full = {r.lang: r.total_size for r in view.view.full().collect()}
    assert {r.lang: r.total_size for r in view.read().collect()} == full


def test_materialized_view_read_before_refresh_raises(spark, tmp_path):
    from kafka_connect_plugins_spark.plans.incremental_view import IncrementalAggView
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.streaming.view_refresh import MaterializedView

    t = LakeTable.create(
        spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4
    )
    v = MaterializedView(
        IncrementalAggView(t, ["lang"], {"s": F.lit(1)}), str(tmp_path / "v")
    )
    with pytest.raises(ValueError, match="never refreshed"):
        v.read()


def test_streaming_ingest_maintains_view_live(spark, tmp_path):
    """A MaterializedView attached to StreamingIngest tracks every epoch."""
    from kafka_connect_plugins_spark.engine import create_repo_table
    from kafka_connect_plugins_spark.plans.incremental_view import IncrementalAggView
    from kafka_connect_plugins_spark.sources.changelog import changelog, expected_final_state
    from kafka_connect_plugins_spark.streaming import StreamingIngest
    from kafka_connect_plugins_spark.streaming.view_refresh import MaterializedView

    events = changelog(spark, 2000, num_repos=6, paths_per_repo=20)
    log_dir = str(tmp_path / "log")
    events.repartitionByRange(4, "offset").write.parquet(log_dir)

    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=8)
    view = MaterializedView(
        IncrementalAggView(table, ["repo"], {"bytes": F.length("content")}),
        str(tmp_path / "view"),
    )
    ingest = StreamingIngest(table, stream_id="s1", views=[view])
    stats = ingest.run_available(
        spark, log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1, timeout_sec=120
    )
    assert len(stats) >= 3  # several epochs, each refreshed the view
    assert view.table_version() == table.manifest()["version"]
    got = {r.repo: (r.bytes, r.n_rows) for r in view.read().collect()}
    want = {
        r.repo: (r.bytes, r.n_rows)
        for r in expected_final_state(events)
        .groupBy("repo")
        .agg(F.sum(F.length("content")).alias("bytes"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert got == want


def test_materialized_view_vacuum_keeps_current_only(spark, tmp_path):
    import os

    from kafka_connect_plugins_spark.plans.incremental_view import IncrementalAggView
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.streaming.view_refresh import MaterializedView

    t = LakeTable.create(
        spark, str(tmp_path / "t"), key_columns=["repo", "path"], num_buckets=4
    )

    def merge(rows, e):
        df = spark.createDataFrame(
            rows, "repo string, path string, lang string, size long, _lsn long, _tombstone boolean"
        )
        t.merge(df, lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=e)

    view = MaterializedView(
        IncrementalAggView(t, ["lang"], {"total_size": F.col("size")}),
        str(tmp_path / "view"),
    )
    merge([Row(repo="r", path="a", lang="py", size=10, _lsn=1, _tombstone=False)], 0)
    view.refresh()
    merge([Row(repo="r", path="b", lang="go", size=3, _lsn=2, _tombstone=False)], 1)
    view.refresh()
    dirs = [d for d in os.listdir(view.root) if d.startswith("v")]
    assert len(dirs) == 2  # two materializations on disk before vacuum
    removed = view.vacuum()
    assert len(removed) == 1 and removed[0] != view.meta()["dir"]
    # the live materialization still reads, and vacuum is idempotent
    assert {r.lang: r.total_size for r in view.read().collect()} == {"py": 10, "go": 3}
    assert view.vacuum() == []
