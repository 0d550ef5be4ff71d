"""One merge mode: every merge rewrites its dirty buckets, so each bucket of
every snapshot is one file set. Covers the rejected ``defer`` mode, the
refusal of manifests that still list merge-on-read deltas, and the
maintenance paths (re-cluster, time travel, expiry, purge) over such
snapshots."""

import json
import os

import pytest

from kafka_connect_plugins_spark.plans.lake_table import BUCKET_COL, LakeTable

from tests.test_lake_table import _src, _state


def _mk(spark, tmp_path, name="t", buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / name), key_columns=["repo", "path"], num_buckets=buckets
    )


def _rows(spec):
    return [
        {"repo": r, "path": p, "commit": "c", "lang": "py", "content": c,
         "_lsn": lsn, "_tombstone": tomb}
        for (r, p, c, lsn, tomb) in spec
    ]


def test_defer_mode_is_rejected(spark, tmp_path):
    from kafka_connect_plugins_spark.engine import apply_batch
    from kafka_connect_plugins_spark.sources.changelog import changelog

    t = _mk(spark, tmp_path)
    t.merge(_src(spark, _rows([("r", "p", "v1", 1, False)])))
    head = t.manifest()["version"]
    with pytest.raises(ValueError, match="defer"):
        t.merge(_src(spark, _rows([("r", "p", "v2", 2, False)])), mode="defer")
    with pytest.raises(ValueError, match="defer"):
        apply_batch(t, changelog(spark, 10), epoch_id=0, merge_mode="defer")
    assert t.manifest()["version"] == head  # nothing committed
    assert _state(t) == {("r", "p"): ("v1", 1)}


def test_manifest_with_pending_deltas_is_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_src(spark, _rows([("r", f"p{i}", "v", i, False) for i in range(8)])))
    m = t.manifest()
    path = os.path.join(t.root, "manifests", f"v{m['version']}.json")
    b = sorted(m["buckets"], key=int)[0]

    # an empty map, as older versions wrote on every commit, still reads,
    # and the next commit no longer carries it
    with open(path, "w") as f:
        json.dump({**m, "deltas": {}}, f)
    assert len(_state(t)) == 8
    t.merge(_src(spark, _rows([("r", "p0", "v2", 20, False)])))
    with open(os.path.join(t.root, "manifests", f"v{t.manifest()['version']}.json")) as f:
        assert "deltas" not in json.load(f)

    # a snapshot with pending deltas would serve stale rows: refuse it
    m = t.manifest()
    path = os.path.join(t.root, "manifests", f"v{m['version']}.json")
    with open(path, "w") as f:
        json.dump({**m, "deltas": {b: [m["version"]]}}, f)
    msg = rf"buckets \[{b}\].*compact\(\)"
    with pytest.raises(ValueError, match=msg):
        t.read()
    with pytest.raises(ValueError, match=msg):
        t.lookup({"repo": "r", "path": "p1"})
    with pytest.raises(ValueError, match=msg):
        t.merge(_src(spark, _rows([("r", "p1", "v3", 30, False)])))


def test_compact_reclusters_every_bucket(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_src(spark, _rows([("r", f"p{i}", f"v{i}", 10 - i, False) for i in range(6)])))
    t.merge(_src(spark, _rows([("r", "p1", "v1b", 50, False)])))
    before = _state(t)
    data_buckets = sorted(int(b) for b in t.manifest()["buckets"])
    assert t.compact(sort_by=["_lsn"]) == len(data_buckets)
    m = t.manifest()
    assert sorted(int(b) for b in m["buckets"]) == data_buckets
    assert set(m["buckets"].values()) == {m["version"]}
    assert m["summary"]["sort_order"] == ["_lsn"]
    st = _state(t)
    assert st == before
    assert st[("r", "p1")] == ("v1b", 50)
    assert st[("r", "p5")] == ("v5", 5)
    # the buckets= subset rewrites only those buckets
    assert t.compact(sort_by=["path"], buckets=[data_buckets[0]]) == 1
    m2 = t.manifest()
    moved = {b for b, v in m2["buckets"].items() if v == m2["version"]}
    assert moved == {str(data_buckets[0])}
    for b, v in m2["buckets"].items():
        bdir = os.path.join(t.root, "data", f"v{v}", f"{BUCKET_COL}={b}")
        assert sum(f_.endswith(".parquet") for f_ in os.listdir(bdir)) == 1
    # with no order there is nothing to rewrite
    with pytest.raises(ValueError, match="sort_by or zorder_by"):
        t.compact()
    assert _state(t) == before


def test_time_travel_and_changes_across_merges(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_src(spark, _rows([("r", "p", "base", 1, False)])))
    v1 = t.manifest()["version"]
    t.merge(_src(spark, _rows([("r", "p", "next", 2, False)])))
    v2 = t.manifest()["version"]
    # time travel to the earlier snapshot
    old = {(r["repo"], r["path"]): r["content"] for r in t.read(version=v1).collect()}
    assert old == {("r", "p"): "base"}
    # the change feed across the second merge sees the update
    changes = t.read_changes(v1, v2).collect()
    assert any(
        r["path"] == "p" and r["_change_type"] == "update_postimage"
        and r["content"] == "next"
        for r in changes
    )


def test_expire_keeps_live_data_dirs(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=16)
    t.merge(_src(spark, _rows([("r", "p", "v1", 1, False)])))
    t.merge(_src(spark, _rows([("r", "p", "v2", 2, False)])))
    t.merge(_src(spark, _rows([("r", "q", "w1", 3, False)])))
    t.expire_snapshots(keep_last=1)
    # every dir the head still references survived: reads stay correct
    st = _state(t)
    assert st[("r", "p")] == ("v2", 2)
    assert st[("r", "q")] == ("w1", 3)


def test_purge_tombstones_then_merge(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_src(spark, _rows([("r", "p", "v1", 1, False), ("r", "q", "w", 2, False)])))
    t.merge(_src(spark, _rows([("r", "p", None, 5, True)])))
    assert ("r", "p") not in _state(t)
    n = t.purge_tombstones(below_lsn=10)
    assert n >= 1
    st = _state(t)
    assert ("r", "p") not in st and st[("r", "q")] == ("w", 2)
    # reads remain consistent after a further merge
    t.merge(_src(spark, _rows([("r", "p", "back", 20, False)])))
    assert _state(t)[("r", "p")] == ("back", 20)
