"""Invariants every committing ``LakeTable`` operation keeps.

Each mutating op commits one snapshot whose ``parent`` is the head it was
prepared against, whose summary carries ``committed_at_ms``, whose
``file_stats`` cover exactly the live (version, bucket) file sets, and whose
referenced data dirs all exist. A failing manifest write publishes nothing:
the head, the table state and the epoch ledger stay as they were.
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import BUCKET_COL, LakeTable

SCHEMA = (
    "repo string, path string, _lsn long, _tombstone boolean, "
    "lang string, content string"
)


def _src(t, rows):
    return t.spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), key_columns=["repo", "path"], num_buckets=8
    )
    rows = [(f"repo-{i % 4}", f"f{i}.py", i, False, "py", f"c{i}") for i in range(40)]
    t.merge(_src(t, rows), epoch_id=0)
    return t


def _upsert(t, i):
    # a fresh epoch per call: every invocation commits
    t.merge(
        _src(t, [
            ("repo-0", "f0.py", 100 + i, False, "py", f"m{i}"),
            ("repo-9", f"new{i}.py", 100 + i, False, "go", "n"),
        ]),
        epoch_id=i + 1,
    )


def _noop(t, i):
    return None


def _tombstone(t, i):
    t.merge(
        _src(t, [("repo-1", f"f{1 + 4 * i}.py", 500 + i, True, None, None)]),
        epoch_id=i + 1,
    )


def _head_then_upsert(t, i):
    prev = t.manifest()["version"]
    _upsert(t, i)
    return prev


# name -> (prepare(table, i) -> ctx, op(table, ctx, i)); each op commits on
# both calls (i = 0 checked, i = 1 failed at the manifest write)
CASES = {
    "merge_rewrite": (_noop, lambda t, c, i: _upsert(t, i)),
    "compact": (_noop, lambda t, c, i: t.compact(sort_by=[("_lsn", "path")[i]])),
    "rebucket": (_noop, lambda t, c, i: t.rebucket((4, 16)[i])),
    "purge_tombstones": (
        _tombstone, lambda t, c, i: t.purge_tombstones(below_lsn=10**6)
    ),
    "delete_where": (
        _noop, lambda t, c, i: t.delete_where(F.col("repo") == f"repo-{i}")
    ),
    "update_where": (
        _noop,
        lambda t, c, i: t.update_where(
            F.col("repo") == "repo-1", {"content": F.lit(f"u{i}")}
        ),
    ),
    "merge_into": (
        _noop,
        lambda t, c, i: t.merge_into(
            _src(t, [
                ("repo-2", "f2.py", 0, False, "py", f"mi{i}"),
                ("repo-7", f"ins{i}.py", 0, False, "py", "ins"),
            ]),
            matched_update={"content": F.col("src.content")},
        ),
    ),
    "rollback": (_head_then_upsert, lambda t, c, i: t.rollback(c)),
    "rename_column": (
        _noop,
        lambda t, c, i: t.rename_column(("lang", "lang_a")[i], ("lang_a", "lang_b")[i]),
    ),
    "drop_column": (_noop, lambda t, c, i: t.drop_column(("lang", "content")[i])),
}


def _live_files(m):
    return {(int(v), b) for b, v in m["buckets"].items()}


@pytest.mark.parametrize("name", sorted(CASES))
def test_commit_invariants(table, name):
    prepare, op = CASES[name]

    ctx = prepare(table, 0)
    head = table.manifest()
    op(table, ctx, 0)
    m = table.manifest()
    assert m["version"] != head["version"]
    assert m["parent"] == head["version"]
    assert m["summary"].get("committed_at_ms")
    live = _live_files(m)
    assert set(m["file_stats"]) == {f"v{v}/{b}" for v, b in live}
    for v, b in live:
        assert os.path.isdir(
            os.path.join(table.root, "data", f"v{v}", f"{BUCKET_COL}={b}")
        )

    ctx = prepare(table, 1)
    head = table.manifest()
    digest = table.state_digest()

    def failing_write(manifest):
        raise OSError("injected manifest write failure")

    table._write_manifest = failing_write
    try:
        with pytest.raises(OSError, match="injected"):
            op(table, ctx, 1)
    finally:
        del table._write_manifest
    assert table.manifest() == head
    assert table.state_digest() == digest
    assert table.manifest()["epochs"] == head["epochs"]
