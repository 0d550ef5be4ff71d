"""Round-5 review hardening: NULL three-valued logic in predicate
mutations and merge_into keys, duplicate-delivery transaction markers,
mixed-shape header resolution, NULL key components on the wire bridge,
outbox column collisions, and z-order boundary sampling past 64k
distincts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import LakeTable


def _table(spark, tmp_path, name="tbl"):
    return LakeTable.create(
        spark, str(tmp_path / name), key_columns=["repo", "path"], num_buckets=4
    )


def _src(spark, rows):
    cols = ["repo", "path", "commit", "lang", "content", "_lsn", "_tombstone"]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows],
        "repo string, path string, commit string, lang string, content string, "
        "_lsn long, _tombstone boolean",
    )


class TestNullPredicateMutations:
    def test_delete_where_keeps_null_condition_rows(self, spark, tmp_path):
        # SQL three-valued logic: a row where the predicate is NULL is
        # UNMATCHED — DELETE must keep it. filter(~NULL) would drop it.
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [
            {"repo": "r", "path": "a", "lang": "py", "content": "x", "_lsn": 1, "_tombstone": False},
            {"repo": "r", "path": "b", "lang": None, "content": "y", "_lsn": 2, "_tombstone": False},
            {"repo": "r", "path": "c", "lang": "go", "content": "z", "_lsn": 3, "_tombstone": False},
        ]))
        res = t.delete_where(F.col("lang") == "py")
        assert res["rows_matched"] == 1
        left = {r["path"]: r["lang"] for r in t.read().collect()}
        # the NULL-lang row SURVIVES the delete
        assert left == {"b": None, "c": "go"}

    def test_update_where_leaves_null_condition_rows_untouched(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [
            {"repo": "r", "path": "a", "lang": "py", "content": "x", "_lsn": 1, "_tombstone": False},
            {"repo": "r", "path": "b", "lang": None, "content": "y", "_lsn": 2, "_tombstone": False},
        ]))
        t.update_where(F.col("lang") == "py", {"content": F.lit("NEW")})
        got = {r["path"]: r["content"] for r in t.read().collect()}
        assert got == {"a": "NEW", "b": "y"}


class TestMergeIntoNullSafeKeys:
    def test_null_key_component_matches_not_duplicates(self, spark, tmp_path):
        # merge()/lookup() treat NULL key components as a legal key value
        # (null-safe joins); merge_into must match them too, not carry the
        # stored row AND insert the source's.
        t = _table(spark, tmp_path)
        t.merge(_src(spark, [
            {"repo": "r", "path": None, "content": "old", "_lsn": 1, "_tombstone": False},
            {"repo": "r", "path": "p", "content": "keep", "_lsn": 1, "_tombstone": False},
        ]))
        source = spark.createDataFrame(
            [("r", None, "new")], "repo string, path string, content string"
        )
        res = t.merge_into(
            source, matched_update={"content": F.col("src.content")}
        )
        assert res["rows_updated"] == 1 and res["rows_inserted"] == 0
        rows = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
        assert rows == {("r", None): "new", ("r", "p"): "keep"}
        assert t.read().count() == 2  # no duplicate NULL-key row


class TestTransactionMarkerDuplicates:
    def test_duplicated_event_does_not_hold_transaction_forever(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            split_complete_transactions,
        )

        # tx1 delivered with ONE duplicate (at-least-once redelivery):
        # observed 3 rows vs marker count 2 — must still be READY.
        src = spark.createDataFrame(
            [("k1", 10, "tx1"), ("k1", 10, "tx1"), ("k2", 11, "tx1"),
             ("k3", 12, "tx2")],
            "key string, _lsn long, _tx_id string",
        )
        markers = spark.createDataFrame(
            [("tx1", 2)], "_tx_id string, event_count long"
        )
        ready, held = split_complete_transactions(src, markers=markers)
        ready_tx = {r["_tx_id"] for r in ready.collect()}
        assert "tx1" in ready_tx  # duplicate-delivered tx applies
        assert {r["_tx_id"] for r in held.collect()} == {"tx2"}  # no marker yet


class TestHeaderColumnMixedShapes:
    def test_map_only_rows_fall_back_to_map(self, spark):
        from kafka_connect_plugins_spark.envelope import header_column

        df = spark.createDataFrame(
            [
                # row with the full ordered list: list is authoritative
                ({"h": "map"}, [("h", "first"), ("h", "last")]),
                # list-less line: the map still has the header
                ({"h": "maponly"}, None),
            ],
            "headers map<string,string>, "
            "headers_list array<struct<key:string,value:string>>",
        )
        got = [r["v"] for r in df.select(header_column(df, "h").alias("v")).collect()]
        assert got == ["last", "maponly"]


class TestEnvelopeNullKeyComponents:
    def test_null_components_never_collide_with_real_keys(self, spark):
        from kafka_connect_plugins_spark.sources.cdc_formats import (
            merge_source_to_envelope,
        )

        src = spark.createDataFrame(
            [("x", None, "p1", 1, False),
             (None, "x", "p2", 2, False),
             ("a", "b", "p3", 3, False)],
            "ka string, kb string, payload string, _lsn long, _tombstone boolean",
        )
        env = merge_source_to_envelope(src, ["ka", "kb"], null_key_policy="null")
        keys = [r["key"] for r in env.orderBy("offset").collect()]
        # concat_ws would serialize rows 1 and 2 BOTH to 'x' — distinct
        # source keys colliding. Under policy='null' such rows carry a NULL
        # key (sharing the null identity, never a real key's); the DEFAULT
        # policy is 'error' — see test_review_fixes_r5c.py.
        assert keys == [None, None, "a|b"]


class TestOutboxValueColumnCollision:
    def test_custom_value_column_does_not_duplicate_value(self, spark):
        from kafka_connect_plugins_spark.operators.outbox_router import (
            OutboxEventRouter,
        )

        df = spark.createDataFrame(
            [(("order", "42", "body"), "origvalue", 7)],
            "outbox struct<aggregatetype:string,aggregateid:string,payload:string>, "
            "value string, offset long",
        )
        r = OutboxEventRouter({"value.column": "outbox"})
        out = r.apply(df)
        assert out.columns.count("value") == 1
        row = out.collect()[0]
        assert row["value"] == "body" and row["topic"] == "outbox.event.order"
        assert row["offset"] == 7  # passthrough survives


class TestZorderBoundarySampling:
    def test_boundaries_span_past_64k_distincts(self, spark, tmp_path):
        # With >65536 distinct values, taking the 65536 SMALLEST as the
        # boundary pool collapses every row above them into one rank; the
        # hash-ordered sample must spread boundaries over the full range.
        t = _table(spark, tmp_path)
        df = spark.range(0, 140_000).select(F.col("id").alias("x"))
        z = t._zorder_column(df, ["x"])
        top = df.filter(F.col("x") > 70_000).select(z.alias("z")).distinct()
        # old behavior: exactly 1 distinct rank for the whole upper half
        assert top.count() > 50


class TestSnapshotDiffNullKeys:
    def test_null_keyed_row_diffs_as_update_not_insert_delete(self, spark):
        from kafka_connect_plugins_spark.plans.incremental_view import snapshot_diff

        old = spark.createDataFrame(
            [(None, "v1", 1), ("k", "s", 1)], "k string, v string, lsn long"
        )
        new = spark.createDataFrame(
            [(None, "v2", 2), ("k", "s", 1)], "k string, v string, lsn long"
        )
        feed = snapshot_diff(old, new, ["k"], lsn_col="lsn").collect()
        got = {(r["k"], r["_change_type"], r["v"]) for r in feed}
        # the NULL-keyed row changed: pre+post images, never insert/delete
        assert got == {(None, "update_preimage", "v1"),
                       (None, "update_postimage", "v2")}


class TestManifestWriteAtomicity:
    def test_torn_manifest_tmp_never_poisons_maintenance(self, spark, tmp_path):
        # A crash mid-manifest-write must not leave a file the `v*.json`
        # walkers (remove_orphans, _next_version) would try to json-parse.
        # The write goes to `v{N}.json.tmp.{uuid}` then os.replace()s; a
        # stray torn tmp (simulated here) is invisible to both walkers and
        # to readers, and later commits proceed normally.
        import os

        t = _table(spark, tmp_path)
        t.merge(_src(spark, [
            {"repo": "r", "path": "a", "lang": "py", "content": "x", "_lsn": 1, "_tombstone": False},
        ]))
        mdir = os.path.join(t.root, "manifests")
        # normal commits leave no tmp residue
        assert not [f for f in os.listdir(mdir) if ".tmp." in f]
        # simulate a crash mid-write of the NEXT manifest: torn JSON under a tmp name
        with open(os.path.join(mdir, "v99.json.tmp.deadbeef"), "w") as f:
            f.write('{"version": 99, "buck')  # truncated
        assert t._next_version() >= 2           # walker ignores the tmp file
        t.remove_orphans(grace_seconds=0.0)     # does not JSONDecodeError
        t.merge(_src(spark, [                   # subsequent commit still works
            {"repo": "r", "path": "b", "lang": "go", "content": "y", "_lsn": 2, "_tombstone": False},
        ]))
        assert {r["path"] for r in t.read().collect()} == {"a", "b"}
