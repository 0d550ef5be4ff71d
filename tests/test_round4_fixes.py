"""Round-4 defect fixes (ADVICE.md): negative-LSN domain guard."""

import pytest
from pyspark.sql import functions as F  # noqa: F401

from kafka_connect_plugins_spark.plans.lake_table import LakeTable


def _table(spark, tmp_path, name="tbl", buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), key_columns=["repo", "path"], num_buckets=buckets
    )


def _src(spark, rows):
    cols = ["repo", "path", "commit", "lang", "content", "_lsn", "_tombstone"]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows],
        "repo string, path string, commit string, lang string, content string, "
        "_lsn long, _tombstone boolean",
    )


def test_negative_lsn_raises(spark, tmp_path):
    t = _table(spark, tmp_path, "neglsn")
    with pytest.raises(ValueError, match=r"non-negative"):
        t.merge(_src(spark, [
            {"repo": "r", "path": "p", "content": "x", "_lsn": -1, "_tombstone": False},
        ]))
    # a negative LOSER under a non-negative winner for the SAME key is also
    # caught (the guard reads the per-key min, not the min of winners)
    with pytest.raises(ValueError, match=r"non-negative"):
        t.merge(_src(spark, [
            {"repo": "r", "path": "p", "content": "new", "_lsn": 5, "_tombstone": False},
            {"repo": "r", "path": "p", "content": "old", "_lsn": -7, "_tombstone": False},
        ]))
    # zero is in-domain
    t.merge(_src(spark, [
        {"repo": "r", "path": "p", "content": "ok", "_lsn": 0, "_tombstone": False},
    ]))
    assert {(r["repo"], r["path"]): r["content"] for r in t.read().collect()} == {
        ("r", "p"): "ok"
    }


def test_purge_below_watermark_wires_retention_to_lineage(spark, tmp_path):
    """VERDICT r3 item 7: retention as a one-liner off the metrics log.

    min per-partition high watermark is the purge bound; a marker exactly AT
    the watermark survives (an at-least-once re-delivery of the event that
    wrote it must still find its shield)."""
    from kafka_connect_plugins_spark.streaming import MetricsLog

    t = _table(spark, tmp_path, "retention")
    metrics = MetricsLog(str(tmp_path / "retention_metrics.jsonl"))
    # no epochs recorded yet -> no-op, not a crash
    assert t.purge_below_watermark(metrics) == {
        "below_lsn": None, "buckets_rewritten": 0, "partitions": 0,
    }

    src = _src(spark, [
        # partition 0: live row at lsn 20; partition 1 tops out at lsn 5
        {"repo": "r", "path": "live", "content": "X", "_lsn": 20, "_tombstone": False},
        {"repo": "r", "path": "old_dead", "_lsn": 3, "_tombstone": True},
        {"repo": "r", "path": "edge_dead", "_lsn": 5, "_tombstone": True},
    ]).withColumn("part", F.when(F.col("_lsn") == 20, 0).otherwise(1))
    metrics.record("s1", t.merge(src, lineage_col="part"))

    out = t.purge_below_watermark(metrics, "s1")
    # min(hw) = min(20, 5) = 5: lsn-3 marker purged, lsn-5 marker SURVIVES
    assert out["below_lsn"] == 5 and out["partitions"] == 2
    assert out["buckets_rewritten"] >= 1
    kept = {r["path"] for r in t.read_internal().select("path").collect()}
    assert kept == {"live", "edge_dead"}
    # the surviving at-watermark marker still shields an at-least-once
    # re-delivery of an EARLIER event for its key (lsn 4 < marker lsn 5)
    t.merge(_src(spark, [
        {"repo": "r", "path": "edge_dead", "content": "zombie", "_lsn": 4, "_tombstone": False},
    ]))
    assert "edge_dead" not in {r["path"] for r in t.read().collect()}
    # second pass is a no-op (idempotent maintenance)
    assert t.purge_below_watermark(metrics, "s1")["buckets_rewritten"] == 0


def test_header_list_round_trips_end_to_end(spark, tmp_path):
    """VERDICT r3 item 8: duplicate-key headers flow source -> operator, not
    just through the unit-tested accessor. The synthesized list carries a
    STALE first ``account_id`` entry, so any first-wins (or map-only) reading
    would route differently — lastWithName must win through a full pipeline."""
    from kafka_connect_plugins_spark.envelope import header_column, last_with_name
    from kafka_connect_plugins_spark.operators import Pipeline
    from kafka_connect_plugins_spark.sources.changelog import changelog

    ev = changelog(spark, 300, num_repos=10, paths_per_repo=5, header_list=True)
    # the list's LAST account_id equals the map's value on every row
    mismatch = ev.filter(
        ~last_with_name(F.col("headers_list"), "account_id").eqNullSafe(
            F.col("headers")["account_id"]
        )
    ).count()
    assert mismatch == 0
    # ...and its FIRST entry differs (the duplicate is real, not decorative)
    first_same = ev.filter(
        F.col("headers_list")[0]["value"] == F.col("headers")["account_id"]
    ).count()
    assert first_same == 0

    pipe = Pipeline.from_connect_config({
        "transforms": "route",
        "transforms.route.type": "ModifyPartition",
        "transforms.route.header.key": "account_id",
        "transforms.route.number.partitions": "10",
    })
    routed_list = pipe.apply(ev)
    routed_map = pipe.apply(ev.drop("headers_list"))
    # identical routing: the list resolves last-wins exactly like the map
    diff = (
        routed_list.select("offset", "partition", "partition")
        .join(routed_map.select("offset", F.col("partition").alias("p2")), "offset")
        .filter(F.col("partition") != F.col("p2"))
        .count()
    )
    assert diff == 0
    # an unrelated duplicate-free key resolves too
    assert ev.filter(header_column(ev, "trace").isNull()).count() == 0


def test_header_list_json_round_trip(spark, tmp_path):
    """headers_list survives JSON serialization: write envelope lines with
    duplicate header keys, read them back with header_list=True, and check
    the map column is derived last-wins when absent from the wire."""
    import json as _json

    from pyspark.sql import types as T

    from kafka_connect_plugins_spark.envelope import last_with_name
    from kafka_connect_plugins_spark.sources.json_envelope import read_json_envelope

    lines = [
        _json.dumps({
            "topic": "t", "partition": 0, "offset": i, "timestamp": 1000 + i,
            "key": f"k{i}",
            # no map on the wire: only the ordered multi-map
            "headers_list": [
                {"key": "account_id", "value": "old"},
                {"key": "other", "value": "x"},
                {"key": "account_id", "value": f"acct-{i}"},
            ],
            "value": {"repo": f"r{i}"},
        })
        for i in range(5)
    ]
    p = tmp_path / "envelopes.jsonl"
    p.write_text("\n".join(lines) + "\n")
    out = read_json_envelope(
        spark, str(p), T.StructType([T.StructField("repo", T.StringType())]),
        header_list=True,
    ).collect()
    assert len(out) == 5
    for r in sorted(out, key=lambda r: r["offset"]):
        i = r["offset"]
        # full multi-map preserved in order...
        assert [h["value"] for h in r["headers_list"] if h["key"] == "account_id"] == [
            "old", f"acct-{i}",
        ]
        # ...and the derived map is last-wins
        assert r["headers"]["account_id"] == f"acct-{i}"
        assert r["headers"]["other"] == "x"
